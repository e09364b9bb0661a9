"""Multimodal-plumbing queries over `documents` (no testdata table
carries real media, so the payload is the document's UTF-8 bytes - an
opaque binary column as far as the engine is concerned).

The decode stage is the documented stub seam (operators/multimodal);
what IS oracle-checked here is the Spark-side plumbing the 100-TB
design depends on: binary columns + typed metadata flowing through an
Arrow mapInPandas stage with byte-budget partitioning, with values
surviving the JVM->Python->JVM round trip bit-exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.multimodal import extract_features
from ..sources import read_table
from .registry import artifact, corpus_key, q, scratch_dir

_KIND_SQL = """CASE doc_id % 3 WHEN 0 THEN 'image'
                               WHEN 1 THEN 'audio'
                               ELSE 'video' END"""

_FEATURES_SQL = f"""
SELECT doc_id AS media_id,
       {_KIND_SQL} AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS decoded_bytes,
       16 AS feature_dim
FROM documents
"""


@q("multimodal_features", _FEATURES_SQL)
def multimodal_features(spark, sf_dir):
    """documents -> opaque binary payload + kind metadata ->
    extract_features (Arrow mapInPandas over byte-budget partitions).
    The oracle checks the metadata and byte counts that cross the
    Python boundary; the feature vector itself comes from the stubbed
    codec (sha256-derived, deterministic) and is reduced to its
    dimensionality, which the schema fixes at FEATURE_DIM."""
    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "decoded_bytes",
        F.size("feature").alias("feature_dim"),
    )


_PHASH_SQL = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b
  ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
"""


def _synth_image_payloads(d_arr) -> list:
    """Deterministic PPM payload per doc id - the fused query's
    synthesis, factored out so tests can run the PUBLIC operator
    composition (image_phash -> phash_neardup_pairs) over the
    IDENTICAL media and pin fused == composition (r14 ADVICE: the
    fused registry paths must not strand the public operators without
    an end-to-end differential). Content seeded by doc_id//2; the odd
    twin gets a +6 brightness shift - a different byte stream, the
    same percept. Low-frequency content must be DISTINCT per seed AND
    spectrally DENSE: a sparse spectrum (e.g. 3 pure sinusoids) leaves
    most of the hash's 63 DCT coefficients at numerical zero, where
    the median threshold flips on FP noise; generating the image FROM
    a seeded dense 8x8 coefficient block guarantees every hash bit is
    decisive (validated pair-exact at sf0.1, 2500 seeds)."""
    import numpy as np

    from ..operators.multimodal import _dct_matrix, encode_ppm

    c32 = _dct_matrix(32)
    ii = np.arange(8)[:, None] * 19349663  # (8,1)
    jj = np.arange(8)[None, :] * 83492791  # (1,8)
    d_arr = np.asarray(d_arr, dtype=np.int64)
    seeds = d_arr // 2
    h = (
        (seeds[:, None, None] * 73856093) ^ (ii ^ jj)[None, :, :]
    ) % (1 << 31)
    amp = (h % 161).astype(np.float64) - 80.0
    small = np.abs(amp) < 20.0
    amp[small] = np.where(amp[small] >= 0, 20.0, -20.0)
    S = np.zeros((len(d_arr), 32, 32))
    S[:, :8, :8] = amp
    S[:, 0, 0] = 0.0
    field = c32.T @ S @ c32  # (B,32,32)
    field = field / (
        np.abs(field).reshape(len(d_arr), -1).max(axis=1)[
            :, None, None
        ]
        + 1e-9
    ) * 90.0
    img = (128.0 + field[:, :24, :])[:, :, :, None] + np.arange(3)[
        None, None, None, :
    ]
    odd = (d_arr % 2 == 1)
    img[odd] = np.clip(img[odd] + 6, 0, 255)
    img8 = img.astype(np.uint8)
    return [encode_ppm(img8[i]) for i in range(len(d_arr))]


@q("image_phash_neardup", _PHASH_SQL)
def image_phash_neardup(spark, sf_dir):
    """Image near-duplicate detection end to end through the REAL codec
    path: deterministic PPM images synthesized per doc pair (content
    seeded by doc_id//2; the odd twin gets a +6 brightness shift, a
    different byte stream but the same percept) -> DCT pHash
    (mapInPandas) -> pigeonhole band join + JVM bit_count verify.

    The oracle is the PLANTED STRUCTURE: exactly the (even, odd) twin
    pairs must come back - full recall of true near-dups AND zero false
    pairs across all cross-image candidates. It cannot re-derive the
    DCT (no SQL oracle could); it verifies the recall/precision
    contract the operator exists for. Hash values themselves are pinned
    by tests/test_multimodal.py."""
    import pandas as pd

    from ..operators.multimodal import _phash_batch, phash_neardup_pairs

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    # single-file scan -> spread the per-row synthesis Python BEFORE it
    # runs (only 8-byte ids move); previously the whole corpus was
    # synthesized in the scan's one task and then repartition_by_bytes
    # inside image_phash shuffled every payload byte (7.8 MB at sf0.1)
    # AND re-executed the one-task synthesis once more for its eager
    # length() sizing aggregate (r14; guide §2.4/§8 - decide with small
    # rows, never move or recompute the heavy bytes).
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def _make(it):
        for pdf in it:
            # synth (vectorized (B,8,8)/(B,32,32) numpy, r14) -> PPM
            # encode -> pHash (which re-decodes the PPM - the REAL
            # codec round trip, unchanged) in ONE Python pass: a second
            # chained mapInPandas node costs ~0.25 CPU-s/task of
            # Arrow/handshake overhead and would ship every payload
            # byte through the JVM for nothing (r14; guide §4.1)
            payloads = _synth_image_payloads(
                pdf["doc_id"].to_numpy()
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "phash": _phash_batch(payloads),
                }
            )

    hashes = docs.mapInPandas(
        _make, "media_id long, phash long"
    ).localCheckpoint(eager=False)
    return phash_neardup_pairs(hashes, max_hamming=4).select(
        "id_a", "id_b"
    )


_AUDIO_FP_SQL = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b
  ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
"""


def _synth_audio_payloads(doc_ids) -> list:
    """Deterministic WAV payload per doc id - the fused query's
    synthesis, factored out for the same fused == public-composition
    differential as _synth_image_payloads. A seeded 8x8 time-frequency
    bit grid (ONE md5 per seed; 128 digest bits -> first 64 = the
    grid, independent across seeds, so the >=17-bit cross-seed
    separation argument is unchanged) realized as a 9x9 banded-energy
    staircase whose Haitsma-Kalker double differences have UNIFORM
    +-1 margins - every fingerprint bit decisive. The odd twin gets a
    1.25x gain: a different byte stream, the same (gain-invariant)
    fingerprint."""
    import hashlib

    import numpy as np

    from ..operators.multimodal import encode_wav

    k = np.arange(800)
    # seed-INDEPENDENT sinusoid basis, hoisted: row b is band b's
    # unit sinusoid, so per-doc synthesis is one (9,9)@(9,800)
    # matmul instead of 81 Python-loop sin evaluations (the r7
    # 4.4 ms/doc hot spot).
    basis = np.stack(
        [
            np.sin(2 * np.pi * (1 + b * 44 + 22) * k / 800)
            for b in range(9)
        ]
    )
    payloads = []
    for d in doc_ids:
        seed = int(d) // 2
        bits = np.unpackbits(
            np.frombuffer(
                hashlib.md5(str(seed).encode()).digest(),
                dtype=np.uint8,
            )
        )[:64].reshape(8, 8)
        D = np.zeros((9, 8))
        D[1:] = np.cumsum(np.where(bits, 1.0, -1.0), axis=0)
        E = np.full((9, 9), 50.0)
        E[:, 1:] = 50.0 + np.cumsum(D, axis=1)
        amp = 0.003 * np.sqrt(E)
        x = (amp @ basis).ravel()
        if int(d) % 2 == 1:
            x = x * 1.25
        payloads.append(encode_wav(x, 8000))
    return payloads


@q("audio_fingerprint_neardup", _AUDIO_FP_SQL)
def audio_fingerprint_neardup(spark, sf_dir):
    """Audio near-duplicate detection end to end through the REAL WAV
    codec path - the audio twin of image_phash_neardup: deterministic
    PCM audio synthesized per doc pair (a seeded 8x8 time-frequency
    bit grid realized as banded sinusoid energies with uniform decisive
    margins; the odd twin gets a 1.25x gain - a different byte stream,
    the same percept, and the Haitsma-Kalker double-difference bits are
    exactly gain-invariant) -> 63-bit spectral fingerprint
    (mapInPandas) -> the SAME pigeonhole band join + JVM bit_count
    verify the image path uses (hash-agnostic).

    The oracle is the PLANTED STRUCTURE: exactly the (even, odd) twin
    pairs must come back - full recall AND zero false pairs (cross-seed
    fingerprints measured >= 17 bits apart vs the 4-bit budget).
    Fingerprint values are pinned by tests/test_multimodal.py."""
    import pandas as pd

    from ..operators.multimodal import (
        _audio_fingerprint_one,
        phash_neardup_pairs,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    # documents at bench SFs is ONE parquet file, so without an exchange
    # a single task would synthesize every WAV (22s of the r7 registry
    # bench lived here); spread the per-row Python work to cluster
    # width first. At real scale the scan is already wide and this
    # exchange moves only 8-byte ids.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def _make(it):
        for pdf in it:
            payloads = _synth_audio_payloads(list(pdf["doc_id"]))
            # synth -> WAV encode -> fingerprint (which re-decodes the
            # WAV - the REAL codec round trip, unchanged) in ONE Python
            # pass: a second chained mapInPandas node costs ~0.25
            # CPU-s/task of Arrow/handshake overhead and would ship
            # every WAV byte (~65 MB at sf0.1, formerly the registry's
            # top byte-mover) through the JVM for nothing (r14; guide
            # §4.1). Quarantine contract identical to the
            # audio_fingerprint operator: undecodable -> null fp.
            def _fp_or_null(p: bytes):
                try:
                    return _audio_fingerprint_one(p)
                except (ValueError, IndexError, ZeroDivisionError):
                    return None

            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "fp": pd.array(
                        [_fp_or_null(p) for p in payloads],
                        dtype="Int64",
                    ),
                }
            )

    fps = docs.mapInPandas(
        _make, "media_id long, fp long"
    ).localCheckpoint(eager=False)
    return phash_neardup_pairs(
        fps, hash_col="fp", max_hamming=4
    ).select("id_a", "id_b")


_VIDEO_NEARDUP_SQL = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(3 AS BIGINT) AS n_frames_agree
FROM documents a JOIN documents b
  ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
"""


@q("video_phash_neardup", _VIDEO_NEARDUP_SQL)
def video_phash_neardup(spark, sf_dir):
    """Video near-duplicate detection end to end through the REAL
    concatenated-P6 container path: deterministic 4-frame videos per
    doc pair -> random-access frame sampling (decode_ppm_video_frame
    seeks, never decodes predecessors) -> per-frame pHash -> slot-keyed
    band join + majority vote (video_neardup_pairs, min 3 of 4 frames).

    r14: synth -> container encode -> frame seek/decode -> pHash run in
    ONE mapInPandas (the same codec calls the 3-stage composition made),
    because each chained Python eval node costs ~0.25 CPU-s/task of
    Arrow/handshake overhead regardless of data (measured: 3 chained
    identity nodes over 32 tasks = 31 CPU-s, 1 node = 10) and the
    intermediate container/frame payloads (~30 MB at sf0.1) never need
    to cross into the JVM at all (guide §4.1 - control how many columns
    cross; §1.2 - remove passes). The general operators (sample_frames,
    frame_phash) remain the public composition for external media.

    Planted structure = the oracle: the odd twin carries a +12
    brightness shift on frames 1-2 (pHash drops DC, so the AC block
    is bit-identical - the video analogue of the audio gain
    invariance), shares frame 0 verbatim, and REPLACES frame 3 with
    unrelated content (a changed outro card), so twins agree on
    exactly 3 of 4 slots; frame 0 is a group-shared intro card across
    each run of 4 docs, so non-twin in-group pairs agree on exactly 1
    slot and the majority threshold must exclude them - full recall
    AND zero false pairs, with the negative case exercising the vote,
    not just hash distance."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (
        _phash_batch,
        decode_ppm_video_frame,
        encode_ppm,
        encode_ppm_video,
        video_neardup_pairs,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    # single-file scan -> spread the per-row synthesis Python first
    # (the audio_fingerprint_neardup r7 lesson); only 8-byte ids move.
    # Keyed on the 4-doc GROUP (not round-robin) so the per-batch
    # frame cache below sees every reuse: the shared intro card is
    # drawn once per group instead of 4x, twin body frames once
    # instead of 2x - 7 RNG seedings per group instead of 16.
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism,
        (F.col("doc_id") / 4).cast("long"),
    )

    def _make(it):
        for pdf in it:
            cache: dict[int, np.ndarray] = {}

            def _draw(seed_val: int) -> np.ndarray:
                # mid-range pixels: +12 brightness can never clip,
                # so the shift lands ONLY in the DCT DC term.
                # 16x16 is enough content: frame_phash's nearest
                # resize upsamples to its 32x32 DCT grid, and the
                # 4x-smaller payload cuts synthesis + Arrow bytes
                # across all three chained stages (validated
                # pair-exact at sf0.1, 2500 pairs).
                f = cache.get(seed_val)
                if f is None:
                    f = np.random.default_rng(seed_val).integers(
                        40, 200, (16, 16, 3), dtype=np.uint8
                    )
                    cache[seed_val] = f
                return f

            f_ids, f_idx, f_pay = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                seed, grp = d // 2, d // 4
                frames = []
                for slot in range(4):
                    if slot == 0:
                        f = _draw(1_000_000 + grp)
                    elif slot == 3 and d % 2 == 1:
                        f = _draw(9_000_000 + d)
                    else:
                        f = _draw(2_000_000 + seed * 4 + slot)
                    if d % 2 == 1 and slot in (1, 2):
                        f = f + 12
                    frames.append(f)
                payload = encode_ppm_video(np.stack(frames))
                # the REAL random-access container path, unchanged:
                # seek-decode each sampled frame (never predecessors),
                # re-encode as a standalone PPM for the hash stage -
                # identical codec calls to sample_frames(every_nth=1)
                for fi in range(4):
                    f_ids.append(d)
                    f_idx.append(fi)
                    f_pay.append(
                        encode_ppm(decode_ppm_video_frame(payload, fi))
                    )
            yield pd.DataFrame(
                {
                    "media_id": f_ids,
                    "frame_idx": pd.array(f_idx, dtype="int32"),
                    "phash": _phash_batch(pd.Series(f_pay, dtype=object)),
                }
            )

    # localCheckpoint cuts lineage so the band self-join reads 20 hash
    # bytes/frame, not the synthesis chain, twice.
    fps = docs.mapInPandas(
        _make, "media_id long, frame_idx int, phash long"
    ).localCheckpoint(eager=False)
    return video_neardup_pairs(
        fps, max_hamming=4, min_frames_agree=3
    ).select("id_a", "id_b", "n_frames_agree")


_CLIP_ALIGN_SQL = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
  FROM embeddings
  WHERE vec_id % 2 = 0
),
s AS (
  SELECT vec_id, vv,
         list_max(list_transform(vv, x -> abs(x))) / 127.0 AS scale
  FROM v
),
d AS (
  SELECT vec_id, vv,
         list_transform(
             vv,
             x -> CAST(coalesce(round(x / nullif(scale, 0)), 0) AS INT)
                  * scale) AS dq
  FROM s
),
c AS (
  SELECT vec_id,
         list_dot_product(dq, vv)
         / nullif(sqrt(list_dot_product(dq, dq))
                  * sqrt(list_dot_product(vv, vv)), 0) AS clip_cos
  FROM d
)
SELECT vec_id, clip_cos FROM c WHERE clip_cos >= 0.9
"""


@q("clip_align_filter", _CLIP_ALIGN_SQL)
def clip_align_filter(spark, sf_dir):
    """LAION-style image-text alignment filtering: pair every caption
    (text) embedding with its image's vision-tower embedding, keep
    pairs whose cosine clears the alignment threshold (LAION-400M used
    CLIP cosine >= 0.3 to turn 50B crawled pairs into 400M training
    pairs - the single highest-leverage multimodal curation op).

    The image side takes the REAL plumbing path: an opaque binary
    payload per image flows through an Arrow embedding pass (the same
    CV01 container decode clip_image_embed runs - the documented seam
    where a production pipeline runs the CLIP vision encoder - fused
    with the packer into one Python node, r14), then a vec_id equi-join
    brings text and image vectors together and an Arrow-batched cosine
    scores each pair JVM->numpy. At 100 TB both sides are corpus-sized,
    so the join is a plain co-partitioned equi-join on the id - no
    broadcast - and the filter drops misaligned pairs before anything
    downstream shuffles the payload bytes.

    Planted structure + full value check: even vec_ids carry a FAITHFUL
    int8-quantized copy of their text embedding in the image container
    (cosine = quantization cosine ~0.999, SQL-re-derivable from the
    same int8 math as embedding_int8_quantize); odd vec_ids carry
    deterministic rng codes (cosine ~ N(0, 1/sqrt(64)), > 7 sigma from
    the 0.9 threshold) - so the oracle re-derives BOTH membership
    (exactly the even ids survive) and the cosine VALUES through the
    byte-exact container round trip."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (
        decode_clip_payload,
        encode_clip_payload,
    )
    from ..operators.similarity import cosine_fast, quantize_int8

    emb = read_table(spark, sf_dir, "embeddings")
    qt = quantize_int8(emb)
    # spread the per-row container packing before the Python stage (the
    # audio r7 lesson): only ids + int8 codes move, ~70 bytes/row.
    qt = qt.repartition(spark.sparkContext.defaultParallelism)

    def _pack_embed(it):
        # pack -> container decode (encode_clip_payload ->
        # decode_clip_payload, the byte-exact CV01 round trip the query
        # exists to exercise) fused into ONE Python node (r14): the
        # second chained mapInPandas cost ~0.25 CPU-s/task of
        # Arrow/handshake overhead and shipped every container byte
        # through the JVM between the stages (guide §4.1). Quarantine
        # contract identical to clip_image_embed: undecodable -> null.
        for pdf in it:
            ids, vecs = [], []
            for vid, scale, qvec in zip(
                pdf["vec_id"], pdf["scale"], pdf["qvec"]
            ):
                vid = int(vid)
                if vid % 2 == 0:
                    codes = np.asarray(qvec, dtype=np.int8)
                else:
                    codes = np.random.default_rng(vid).integers(
                        -127, 128, len(qvec), dtype=np.int64
                    ).astype(np.int8)
                payload = encode_clip_payload(float(scale), codes)
                ids.append(vid)
                try:
                    vecs.append(decode_clip_payload(payload).tolist())
                except (ValueError, IndexError):
                    vecs.append(None)
            yield pd.DataFrame(
                {"media_id": ids, "image_embedding": vecs}
            )

    img = qt.mapInPandas(
        _pack_embed, "media_id long, image_embedding array<double>"
    )
    pairs = emb.join(img, emb.vec_id == img.media_id).select(
        "vec_id",
        cosine_fast(F.col("embedding"), F.col("image_embedding")).alias(
            "clip_cos"
        ),
    )
    return pairs.where(F.col("clip_cos") >= 0.9)


# WebDataset round trip: one write per (applicationId, corpus) under the
# app's scratch root (the _bm25_index_path discipline - no cross-session
# sharing, so no rename/lock choreography needed).

_WDS_JSON_SQL = (
    """'{"doc_id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' """
    """|| lang || '"}'"""
)

_WDS_SQL = f"""
SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS sample_key,
       'txt' AS ext,
       doc_id % 16 AS shard_id,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
FROM documents
UNION ALL
SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS sample_key,
       'json' AS ext,
       doc_id % 16 AS shard_id,
       md5({_WDS_JSON_SQL}) AS payload_md5,
       CAST(octet_length(encode({_WDS_JSON_SQL})) AS BIGINT)
         AS payload_bytes
FROM documents
"""


def _wds_path(spark, sf_dir):
    from ..sources.webdataset import write_webdataset

    def build():
        key = corpus_key(spark, sf_dir, "documents")
        path = scratch_dir(spark, f"wds{key[1:]}")
        docs = read_table(spark, sf_dir, "documents")
        json_str = F.concat(
            F.lit('{"doc_id":'),
            F.col("doc_id").cast("string"),
            F.lit(',"lang":"'),
            F.col("lang"),
            F.lit('"}'),
        )
        samples = docs.select(
            F.lpad(F.col("doc_id").cast("string"), 8, "0").alias(
                "sample_key"
            ),
            (F.col("doc_id") % 16).alias("shard"),
            F.encode("text", "UTF-8").alias("txt"),
            F.encode(json_str, "UTF-8").alias("json"),
        )
        long_form = samples.select(
            "sample_key",
            "shard",
            F.explode(
                F.map_from_arrays(
                    F.array(F.lit("txt"), F.lit("json")),
                    F.array(F.col("txt"), F.col("json")),
                )
            ).alias("ext", "payload"),
        )
        write_webdataset(
            long_form, path, n_shards=16, shard_col="shard"
        )
        return path

    return artifact(spark, sf_dir, "documents", "wds", build)


@q("webdataset_roundtrip", _WDS_SQL)
def webdataset_roundtrip(spark, sf_dir):
    """WebDataset tar-shard sink + source round trip: documents become
    two-member samples ({key}.txt, {key}.json), hash-free explicit
    sharding on doc_id % 16 (a pure column expr, no global sort - the
    at-scale assignment), written as reproducible tars and read back
    via binaryFile + mapInPandas (sources/webdataset.py).

    The oracle re-derives, per member, the md5 and byte length the
    payload must carry after surviving write -> tar -> read, plus the
    shard the member must land in (parsed back out of the shard file
    name) - so sharding, member naming, and bit-exact payload transport
    are all value-checked. Tar byte reproducibility and corrupt-shard
    quarantine are pinned by tests/test_webdataset.py."""
    from ..sources.webdataset import read_webdataset

    path = _wds_path(spark, sf_dir)
    samples = read_webdataset(spark, path)
    return samples.where(F.col("error").isNull()).select(
        "sample_key",
        "ext",
        F.regexp_extract(
            F.col("shard_path"), r"shard-(\d+)\.tar", 1
        )
        .cast("long")
        .alias("shard_id"),
        F.md5("payload").alias("payload_md5"),
        F.octet_length("payload").cast("long").alias("payload_bytes"),
    )
