"""Multimodal column plumbing (SURVEY.md §2.7).

Images/audio/video are opaque `binary` columns with typed metadata structs.
The Spark-side plumbing — schema, Arrow batch shape, mapInPandas signature,
partition sizing — is real and tested; the actual media decoding is stubbed
(the container ships no image/audio libraries) behind deterministic fakes /
NotImplementedError, clearly marked below.

At 100 TB the pattern is: keep blobs in their own parquet column (column
pruning means metadata-only queries never read them), process with
mapInPandas (Arrow-batched, bounded memory via
spark.sql.execution.arrow.maxRecordsPerBatch), and never collect blobs to
the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried next to every blob.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image / audio / video
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),  # md5 hex
    ]
)

FEATURE_DIM = 8

_FEATURES_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def attach_media(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a blob+metadata table from documents (deterministic fake media:
    the utf-8 bytes of the text stand in for an encoded image).

    Pure builtins: encode -> binary, md5, octet length — so this step has an
    exact DuckDB oracle even though real decode is stubbed.
    """
    blob = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        blob.alias("blob"),
        F.struct(
            F.when(F.col(id_col) % 3 == 0, "image")
            .when(F.col(id_col) % 3 == 1, "audio")
            .otherwise("video")
            .alias("media_type"),
            F.octet_length(blob).cast("long").alias("n_bytes"),
            F.md5(blob).alias("content_hash"),
        ).alias("meta"),
    )


def _fake_feature(blob: bytes) -> list[float]:
    """Deterministic fake 'decoded feature': strided byte sums / length.
    Stands in for a real decode->resize->embed step; numpy-vectorized over
    the blob so the Python-side cost is O(rows) calls, not O(bytes) loops.

    Rounding is floor(x*1e6 + 0.5)/1e6 — NOT Python round() — because
    banker's rounding differs from DuckDB's half-away round(); this exact
    floor form is mirrored in the oracle SQL, making the feature values
    bit-identical cross-engine."""
    import math

    import numpy as np

    if blob is None:
        return None  # NULL blob -> NULL feature, mirrored by the oracle
    if len(blob) == 0:
        return [0.0] * FEATURE_DIM
    a = np.frombuffer(blob, dtype=np.uint8)
    n = len(a)
    pad = (-n) % FEATURE_DIM
    sums = np.pad(a, (0, pad)).reshape(-1, FEATURE_DIM).sum(axis=0, dtype=np.int64)
    return [math.floor((int(s) / n) * 1e6 + 0.5) / 1e6 for s in sums.tolist()]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over blob batches (Arrow transfer).

    The real pipeline would decode / frame-sample / resize here; the stub
    keeps the exact same batch shape and output schema.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [m["media_type"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "feature": [_fake_feature(b) for b in pdf["blob"]],
                }
            )

    return media.mapInPandas(batches, schema=_FEATURES_OUT_SCHEMA)


def media_summary(media: DataFrame) -> DataFrame:
    """Metadata-only rollup — reads zero blob bytes thanks to column pruning
    (verify with .explain: ReadSchema excludes `blob`)."""
    return (
        media.select("doc_id", "meta.media_type", "meta.n_bytes")
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("media_type")
    )


FRAME_STRIDE = 256  # bytes per conceptual frame
FRAME_SAMPLE_EVERY = 2  # keep every 2nd frame
FRAME_MAX = 4  # at most 4 sampled frames per video

_FRAMES_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video blobs: every FRAME_SAMPLE_EVERY-th
    FRAME_STRIDE-byte stripe (a real pipeline would seek keyframes; the
    stripe stands in for a decoded frame), up to FRAME_MAX per video.

    mapInPandas over Arrow batches, like extract_features; rows fan OUT
    (one per sampled frame), which is why this is mapInPandas and not a
    scalar pandas_udf.  The per-frame md5 is computed from the exact blob
    slice, so the whole Python path is hash-checked against a DuckDB
    oracle (`substr` clamps at the blob end exactly like the Python slice).
    Filter pushdown note: the media_type predicate applies BEFORE the
    Python stage, so audio/image blobs never cross the Arrow boundary.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_offset": [], "frame_md5": []
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                if blob is None:
                    continue  # oracle: NULL length fails the stripe filter
                n = len(blob)
                for j in range(FRAME_MAX):
                    idx = j * FRAME_SAMPLE_EVERY
                    off = idx * FRAME_STRIDE
                    if off >= n:
                        break
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_offset"].append(off)
                    out["frame_md5"].append(
                        hashlib.md5(bytes(blob[off : off + FRAME_STRIDE])).hexdigest()
                    )
            yield pd.DataFrame(out).astype(
                {"doc_id": "int64", "frame_idx": "int64", "frame_offset": "int64"}
            )

    videos = media.filter(F.col("meta.media_type") == "video").select("doc_id", "blob")
    return videos.mapInPandas(batches, schema=_FRAMES_OUT_SCHEMA)


_PROFILE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("resized_md5", T.StringType()),
    ]
)


def media_profile(media: DataFrame) -> DataFrame:
    """Feature extraction AND fake resize in ONE mapInPandas pass.

    A real 100 TB media pipeline wants every per-blob derivation computed
    while the blob is in memory once: running extract_features and
    resize_media separately would ship each blob across the Arrow boundary
    twice and then pay a doc_id shuffle to join the outputs.  Same values
    as the standalone operators (shared helpers), one blob scan, no join.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [_fake_resize(b) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [m["media_type"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "feature": [_fake_feature(b) for b in pdf["blob"]],
                    "resized_bytes": [n for n, _ in resized],
                    "resized_md5": [h for _, h in resized],
                }
            ).astype({"doc_id": "int64"})

    return media.mapInPandas(batches, schema=_PROFILE_OUT_SCHEMA)


RESIZE_BYTES = 64  # target "resolution" of the fake resize


def _fake_resize(blob) -> tuple:
    """Deterministic fake resize shared by resize_media and media_profile
    (code-review r6: the two copies could drift and double-converted the
    blob): strided downsample to <= RESIZE_BYTES bytes, returning
    (resized_len, resized_md5) — (None, None) for a NULL blob, matching
    the oracle's NULL propagation."""
    import hashlib

    if blob is None:
        return None, None
    b = bytes(blob)
    stride = max(1, len(b) // RESIZE_BYTES)
    resized = b[::stride][:RESIZE_BYTES]
    return len(resized), hashlib.md5(resized).hexdigest()


def resize_media(media: DataFrame) -> DataFrame:
    """Deterministic fake resize: strided downsample of the blob to at most
    RESIZE_BYTES bytes (stride = n // RESIZE_BYTES, floor, min 1) — stands
    in for decode->bilinear-resize->re-encode, keeping the real pipeline
    shape: scalar-per-row Python over Arrow batches, blob in, smaller blob
    out.  Emits the resized length and md5 so the Python path is exactly
    hash-checkable; the resized blob itself stays on executors.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [_fake_resize(b) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resized_bytes": [n for n, _ in resized],
                    "resized_md5": [h for _, h in resized],
                }
            ).astype({"doc_id": "int64"})

    return media.select("doc_id", "blob").mapInPandas(
        batches,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("resized_bytes", T.LongType()),
                T.StructField("resized_md5", T.StringType()),
            ]
        ),
    )


def pair_cosine_filter(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """CLIP-score pair filtering — the LAION recipe's defining step: keep
    an (image, caption) pair only when the cosine between its two
    modality embeddings clears the threshold (weakly-aligned web pairs
    drop).  Generic over any two embedding columns on one row, so it
    also covers translation-pair and duplicate-caption filtering.

    Output: (id, pair_cos, keep) for every input pair (callers filter on
    `keep`, or consume the score for calibration) — pairs with a NULL
    embedding on either side get NULL cos and keep=false (dropped by a
    keep-filter, never silently retained).

    Plan shape at 100 TB: one row-local projection (normalize twice +
    one zip_with dot), zero exchanges — scan-bound, composes with any
    downstream op.  The cosine is the same fixed-order `V.dot` over
    `V.normalize` every ANN operator uses, so the DuckDB mirror is exact.
    """
    from apache_kafka_clickhouse_demo_spark.functions import vectors as V

    cos = V.dot(V.normalize(a_col), V.normalize(b_col))
    return pairs.select(
        F.col(id_col),
        cos.alias("pair_cos"),
        F.coalesce(cos >= F.lit(threshold), F.lit(False)).alias("keep"),
    )


#: blockhash size — chunk math mirrors dedup.SIMHASH_BITS conventions
PHASH_BITS = 48
PHASH_MAX_HAMMING = 2


def _fake_phash(blob) -> int | None:
    """Deterministic fake perceptual hash (r12): the blockhash recipe —
    bit j = 1 iff band j's byte mass sits strictly above the blob's mean
    band mass (ties -> 0) — over PHASH_BITS strided byte bands.  Stands
    in for decode -> grayscale -> blockhash/pHash; the strided band sums
    are the same SQL-mirrorable quantity `_fake_feature` uses, so the
    whole hash is oracle-exact.  NULL/empty blobs -> NULL (no pixels, no
    hash), mirroring the feature contract."""
    import numpy as np

    if blob is None:
        return None
    b = bytes(blob)
    if len(b) == 0:
        return None
    a = np.frombuffer(b, dtype=np.uint8)
    pad = (-len(a)) % PHASH_BITS
    bands = np.pad(a, (0, pad)).reshape(-1, PHASH_BITS).sum(axis=0, dtype=np.int64)
    total = int(bands.sum())
    h = 0
    for j in range(PHASH_BITS):
        if int(bands[j]) * PHASH_BITS > total:
            h |= 1 << j
    return h


def media_phash(media: DataFrame) -> DataFrame:
    """(doc_id, phash) perceptual fingerprints via mapInPandas — the
    multimodal twin of `dedup.simhash` (Arrow-batched Python where a
    real pipeline decodes pixels; the fake keeps the exact batch shape
    and an exact DuckDB mirror)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pd.array(
                        [_fake_phash(b) for b in pdf["blob"]], dtype="Int64"
                    ),
                }
            )

    return media.select("doc_id", "blob").mapInPandas(
        batches,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("phash", T.LongType()),
            ]
        ),
    )


def media_phash_pairs(
    media: DataFrame, max_hamming: int = PHASH_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance —
    the image-dedup step of the LAION/DataComp recipes, expressed with
    the pigeonhole chunk-join `dedup.simhash_pairs` proved out: split
    PHASH_BITS into (max_hamming + 1) chunks; any pair within distance
    d shares >= 1 identical chunk, so the join on (chunk_idx,
    chunk_val) is EXACT — all qualifying pairs, never an all-pairs
    comparison (the oracle IS the naive all-pairs form, so exactness is
    hash-checked, not argued).  NULL phashes (NULL/empty blobs) never
    equi-join — no pairs, both engines.

    Plan shape at 100 TB: one Arrow pass for the hashes, then the
    SHARED `dedup.hamming_pairs` pigeonhole protocol (code-review r12:
    one banding implementation for simhash and phash, so the two
    cannot drift) — (d+1)-way chunk fan-out, one equi-join on
    bounded-cardinality chunk keys, bit_count verify row-locally,
    shuffle-pinned on wide sources.  Chunk-value skew (many blobs
    sharing one chunk) is the simhash operator's known trade — the
    verify keeps it exact, AQE splits a hot chunk partition.
    """
    from apache_kafka_clickhouse_demo_spark.operators.dedup import hamming_pairs
    from apache_kafka_clickhouse_demo_spark.sources.tables import is_wide_source

    return hamming_pairs(
        media_phash(media),
        PHASH_BITS,
        max_hamming,
        is_wide_source(media),
        hash_col="phash",
    )


def media_phash_edges(
    media: DataFrame, max_hamming: int = PHASH_MAX_HAMMING
) -> DataFrame:
    """Connectivity-preserving edge set for phash CLUSTERING, linear in
    duplicate-class size (r15, VERDICT r14 #5).  The pair LISTING is
    legitimately quadratic in copies (a 100 TB corpus that is mostly
    re-posts of the same images materializes C(n,2) pairs per class);
    the cluster consumer only needs edges that CONNECT components, so:

    - equal-phash star collapse: one shuffle on phash, rep = min doc_id
      per distinct fingerprint, emit (rep, member) — n-1 edges per
      equal class instead of C(n,2), exact because equal fingerprints
      are Hamming distance 0 <= d by definition;
    - distinct-fingerprint pairs: the shared pigeonhole `hamming_pairs`
      over ONE representative per distinct phash value — the quadratic
      term now scales with distinct near fingerprints, not with copies.

    CC over (stars UNION rep-pairs) equals CC over the full verified
    pair graph: every emitted edge joins vertices within distance d
    (stars are distance 0, rep pairs are bit_count-verified), and for
    any qualifying pair (a, b), hamming(rep(a), rep(b)) = hamming(a, b)
    <= d because equal phashes hash equal — so the path
    a - rep(a) - rep(b) - b exists.  Gate row media_phash_clusters
    consumes this and stays hash-exact against the all-pairs
    transitive-closure oracle; the pairs listing (media_phash_dedup)
    keeps the exact all-pairs contract.

    Output: (id_a, id_b) with id_a < id_b (min-rep stars orient
    naturally; hamming_pairs orders its output).  NULL phashes drop —
    same as the pair listing (NULL never equi-joins)."""
    from pyspark.sql import Window

    from apache_kafka_clickhouse_demo_spark.operators.dedup import hamming_pairs
    from apache_kafka_clickhouse_demo_spark.sources.tables import is_wide_source

    wide = is_wide_source(media)
    hashes = media_phash(media).filter(F.col("phash").isNotNull())
    # one shuffle on phash serves BOTH the star edges and the distinct-
    # fingerprint representative set; persisted because two plan
    # branches consume it (the module's cache contract applies)
    tagged = hashes.withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy("phash"))
    ).persist()
    stars = tagged.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    reps = tagged.filter(F.col("doc_id") == F.col("rep")).select(
        "doc_id", "phash"
    )
    rep_pairs = hamming_pairs(
        reps, PHASH_BITS, max_hamming, wide, hash_col="phash"
    ).select("id_a", "id_b")
    return stars.unionByName(rep_pairs)
