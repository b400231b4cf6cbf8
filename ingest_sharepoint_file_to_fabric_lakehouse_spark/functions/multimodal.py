"""Multimodal (image/audio/video) column handling (north star; B.9
`multimodal_binary_meta`).

Media are opaque ``binary`` columns + typed metadata, flowing through
the same Spark plans as any other column.  Decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` kernels —
the Spark-side plumbing (schema, partitioning, batch shape) is real
and tested throughout.  The resize kernel is a real pure-numpy
nearest-neighbor gather over raw pixel buffers; only the COMPRESSED
format decoders are stand-ins behind ``DECODERS`` because no media
libraries exist in this container (swap in PIL/torchaudio/pyav
entries to go live).

Reference parity: files as opaque blobs (A-2/A-3,
sharepoint_to_bronze_delta.py:163-176) — the engine types them and
keeps them executor-side instead of driver `/tmp` buffering.

Scale notes: content bytes never hit the driver; metadata extraction
is a map-only pass appended to the bronze scan; mapInPandas batches
bound executor memory (`maxRecordsPerBatch`), and wide blobs should
set ``spark.sql.files.maxPartitionBytes`` so one task holds a few
blobs, not thousands.
"""

from __future__ import annotations

import hashlib
import os
import struct

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import query, staging_dir, t


def _fake_decode_image(content: bytes) -> dict:
    """Deterministic stand-in for an image decoder (no PIL in this
    container): 'dimensions' derived from a content digest, stable
    across runs/cluster layouts."""
    digest = hashlib.sha256(content).digest()
    w, h = struct.unpack(">HH", digest[:4])
    return {"width": 64 + w % 1920, "height": 64 + h % 1080, "n_channels": 3}


DECODERS = {
    "image": _fake_decode_image,
    # "audio": real torchaudio/librosa hook goes here
    # "video": real pyav frame-sampler goes here
}


def extract_media_meta(df: DataFrame) -> DataFrame:
    """mapInPandas media metadata extraction over (path, content).

    Output schema is the real contract a downstream training pipeline
    consumes; only the decoder kernel is fake.
    """

    def kernel(batches):
        for pdf in batches:
            metas = [_fake_decode_image(c) for c in pdf.content]
            yield pd.DataFrame(
                {
                    "path": pdf.path,
                    "media_type": pdf.media_type,
                    "n_bytes": [len(c) for c in pdf.content],
                    "sha256": [hashlib.sha256(c).hexdigest() for c in pdf.content],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_channels": [m["n_channels"] for m in metas],
                }
            )

    return df.mapInPandas(
        kernel,
        "path string, media_type string, n_bytes long, sha256 string, "
        "width int, height int, n_channels int",
    )


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Nearest-neighbor image resize as an Arrow-batched mapInPandas
    kernel — pure numpy, no image library required: the input rows
    carry raw interleaved pixel buffers plus (width, height,
    n_channels) metadata, and the kernel gathers with the exact floor
    index mapping ``sy = (ty*src_h) div target_h``, ``sx = (tx*src_w)
    div target_w`` over the (h, w, c) uint8 view.  Integer-exact and
    engine-replicable (no float sampling grid), so a SQL oracle can
    reconstruct the output bytes — see multimodal_resize_meta.  A
    PIL/opencv decoder for compressed formats slots in front of this
    kernel (decode → raw buffer → same gather); the Spark contract
    (schema, Arrow batching, executor-side bytes) is unchanged."""
    import numpy as np

    def kernel(batches):
        for pdf in batches:
            out = []
            for content, w, h, c in zip(
                pdf.content, pdf.width, pdf.height, pdf.n_channels
            ):
                img = np.frombuffer(content, dtype=np.uint8).reshape(
                    int(h), int(w), int(c)
                )
                iy = (np.arange(target_h) * int(h)) // target_h
                ix = (np.arange(target_w) * int(w)) // target_w
                out.append(img[iy][:, ix, :].tobytes())
            yield pd.DataFrame(
                {
                    "path": pdf.path,
                    "content": out,
                    "width": target_w,
                    "height": target_h,
                }
            )

    return df.mapInPandas(kernel, "path string, content binary, width int, height int")


def sample_frames(df: DataFrame, frame_bytes: int = 256, stride: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-shaped blobs: every
    ``stride``-th fixed-size slice of the content becomes one output
    row (file, frame_idx, frame_n_bytes, frame_sha256).

    The slicing stands in for a real pyav keyframe sampler (swap the
    kernel body; schema/batching/partitioning are the real contract).
    One input row fans out to many frame rows INSIDE the kernel —
    executor-local, no explode through the shuffle; at scale the frame
    rows land partitioned by source file, ready for per-frame feature
    extraction."""

    def kernel(batches):
        for pdf in batches:
            paths, idxs, sizes, shas = [], [], [], []
            for path, content in zip(pdf.path, pdf.content):
                frames = [
                    content[off : off + frame_bytes]
                    for off in range(0, len(content), frame_bytes)
                ]
                for i in range(0, len(frames), stride):
                    paths.append(path)
                    idxs.append(i)
                    sizes.append(len(frames[i]))
                    shas.append(hashlib.sha256(frames[i]).hexdigest())
            yield pd.DataFrame(
                {"path": paths, "frame_idx": idxs, "frame_n_bytes": sizes,
                 "frame_sha256": shas}
            )

    return df.mapInPandas(
        kernel, "path string, frame_idx int, frame_n_bytes int, frame_sha256 string"
    )


@query(
    "multimodal_frame_sample",
    """
    SELECT * FROM (VALUES
      ('clip_0.fakemp4', 0, 256, '5bc31b283cef0072274e97d74916552954c935794536cab632641e5ea071379d'),
      ('clip_0.fakemp4', 4, 256, '6c36da4e9919a6bc2fce222d9183eb1b2af8452b89d4f3ba3a523b27c707875a'),
      ('clip_0.fakemp4', 8, 256, '0f6d594952653451acc38f9f99250c6d4a32cbe2ce3cb504943263bf4b61140a'),
      ('clip_0.fakemp4', 12, 256, 'f5ef8c111a9844faaff0ff399f4b9742cd24fa1d0083aad9bc33eedf7208f653'),
      ('clip_0.fakemp4', 16, 256, '54772f019c784efb2106f1f6d300765c2dd95eaa6577867c1a9744a21eed6e7a'),
      ('clip_0.fakemp4', 20, 256, 'd6969785fce505ca0581caee366cd6f3c76d8817042c130c448f4b1951e70383'),
      ('clip_1.fakemp4', 0, 256, '5bc31b283cef0072274e97d74916552954c935794536cab632641e5ea071379d'),
      ('clip_1.fakemp4', 4, 256, '6c36da4e9919a6bc2fce222d9183eb1b2af8452b89d4f3ba3a523b27c707875a'),
      ('clip_1.fakemp4', 8, 256, '0f6d594952653451acc38f9f99250c6d4a32cbe2ce3cb504943263bf4b61140a'),
      ('clip_1.fakemp4', 12, 256, 'f5ef8c111a9844faaff0ff399f4b9742cd24fa1d0083aad9bc33eedf7208f653'),
      ('clip_1.fakemp4', 16, 256, '54772f019c784efb2106f1f6d300765c2dd95eaa6577867c1a9744a21eed6e7a'),
      ('clip_1.fakemp4', 20, 256, 'd6969785fce505ca0581caee366cd6f3c76d8817042c130c448f4b1951e70383'),
      ('clip_1.fakemp4', 24, 256, '414018e93ed35bd783a3ddb60270e260b15ce32de4fd4821ae572cd62648b6dc'),
      ('clip_1.fakemp4', 28, 256, '05787693b5709aed51a3d85b140d4963b9802fb11f280cf651b18299b1fbf132'),
      ('clip_2.fakemp4', 0, 256, '5bc31b283cef0072274e97d74916552954c935794536cab632641e5ea071379d'),
      ('clip_2.fakemp4', 4, 256, '6c36da4e9919a6bc2fce222d9183eb1b2af8452b89d4f3ba3a523b27c707875a'),
      ('clip_2.fakemp4', 8, 256, '0f6d594952653451acc38f9f99250c6d4a32cbe2ce3cb504943263bf4b61140a'),
      ('clip_2.fakemp4', 12, 256, 'f5ef8c111a9844faaff0ff399f4b9742cd24fa1d0083aad9bc33eedf7208f653'),
      ('clip_2.fakemp4', 16, 256, '54772f019c784efb2106f1f6d300765c2dd95eaa6577867c1a9744a21eed6e7a'),
      ('clip_2.fakemp4', 20, 256, 'd6969785fce505ca0581caee366cd6f3c76d8817042c130c448f4b1951e70383'),
      ('clip_2.fakemp4', 24, 256, '414018e93ed35bd783a3ddb60270e260b15ce32de4fd4821ae572cd62648b6dc'),
      ('clip_2.fakemp4', 28, 256, '05787693b5709aed51a3d85b140d4963b9802fb11f280cf651b18299b1fbf132'),
      ('clip_2.fakemp4', 32, 256, '4ff4196f600ee6a147382304535f7c3ac4b82cc935ddee5f01de0f5426c0c8ad'),
      ('clip_2.fakemp4', 36, 256, 'ee25acfdf10c8bd581f59acedf2c83f636cace6344fcec72dbbc28fb1688d012')
    ) AS t(file_name, frame_idx, frame_n_bytes, frame_sha256)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of staged fake 'videos' → strided frame sampling
    via the mapInPandas kernel.  Strong check: blobs are deterministic
    (byte period 251 ⇒ every frame distinct), so the oracle is the
    literal expected (file, frame_idx, size, sha256) table."""
    stage = staging_dir(sf_dir, "video")
    os.makedirs(stage, exist_ok=True)
    for i in range(3):
        with open(f"{stage}/clip_{i}.fakemp4", "wb") as f:
            # byte period 251 is coprime to the 256-byte frame size, so
            # every sampled frame has distinct content (and hash).
            f.write(bytes(b % 251 for b in range(256 * (24 + 8 * i))))
    scan = spark.read.format("binaryFile").load(stage).select("path", "content")
    frames = sample_frames(scan, frame_bytes=256, stride=4)
    return frames.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "frame_idx",
        "frame_n_bytes",
        "frame_sha256",
    ).orderBy("file_name", "frame_idx")


@query(
    "multimodal_binary_meta",
    """
    SELECT * FROM (VALUES
      ('img_0.fake', 'image', CAST(1024 AS BIGINT), '0b3b4eba5c7d53beec5ac1aa3b64c56188bcbf52906e124e5ab3e77a96fdd9cd', 1019, 778, 3),
      ('img_1.fake', 'image', CAST(1152 AS BIGINT), '0f51d140598b546b215c0e646f08a461b46f3941099ccfba75722b80cf7909b3', 145, 712, 3),
      ('img_2.fake', 'image', CAST(1280 AS BIGINT), 'a0193eaa0273b74d3fa9f6ddb9684a6c66cbebe61bea1e0eecfc98c8d528fc37', 729, 986, 3),
      ('img_3.fake', 'image', CAST(1408 AS BIGINT), '640ee69910e2b33926ac3101f34c0c8fb53dbe58e2f51b49c9dd76e2f7d64bc0', 718, 777, 3),
      ('img_4.fake', 'image', CAST(1536 AS BIGINT), 'b2e9c5a28c54732832786de5d27e3b78e6c4d0309f6c66cc4630b2df5435e8f3', 1705, 978, 3),
      ('img_5.fake', 'image', CAST(1664 AS BIGINT), 'c32aa2357714108b367c445b62ca13caa66d2db364aecb35d86189cdca08b184', 106, 549, 3)
    ) AS t(file_name, media_type, n_bytes, sha256, width, height, n_channels)
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of staged media blobs → typed metadata columns
    via the mapInPandas extraction kernel.  Strong check: blobs are
    deterministic, so the oracle is the literal expected metadata table
    (including the digest-derived fake decoder dimensions)."""
    stage = staging_dir(sf_dir, "media")
    os.makedirs(stage, exist_ok=True)
    for i in range(6):
        with open(f"{stage}/img_{i}.fake", "wb") as f:
            f.write(bytes([i, 255 - i]) * (512 + 64 * i))
    scan = (
        spark.read.format("binaryFile")
        .load(stage)
        .select("path", "content")
        .withColumn("media_type", F.lit("image"))
    )
    meta = extract_media_meta(scan)
    return meta.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "media_type",
        "n_bytes",
        "sha256",
        "width",
        "height",
        "n_channels",
    ).orderBy("file_name")


@query(
    "multimodal_chunk_binary",
    """
    WITH c AS (
      SELECT doc_id,
             unnest([{'chunk_idx': i,
                      'chunk': substring(text, CAST(i * 32 + 1 AS INT), 32)}
                     FOR i IN range(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT))]) AS s
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, CAST(s.chunk_idx AS INT) AS chunk_idx,
           strlen(s.chunk) AS n_bytes,
           md5(s.chunk) AS chunk_md5
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def multimodal_chunk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking of an opaque byte stream — the audio/PCM
    analogue of multimodal_frame_sample's strided video sampling: the
    stream splits into 32-byte windows (the last one ragged), each
    chunk addressed by (doc_id, chunk_idx) and fingerprinted with md5.
    Everything is JVM-side built-ins — sequence + explode for the
    index space, substring for the slice — so at 100 TB this is a
    pure map-side pass with no Python in the loop; a real PCM decode
    would substitute the binaryFile content column as the stream.
    (DuckDB has no BLOB substring, so the cross-engine oracle chunks
    the UTF-8 text — byte-identical on this ASCII corpus; md5 hashes
    the chunk's bytes in both engines.)
    """
    c = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.octet_length("text") / F.lit(32)).cast("int") - 1,
                )
            ).alias("chunk_idx"),
            "text",
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr("substring(text, chunk_idx * 32 + 1, 32)").alias("chunk"),
        )
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        F.octet_length("chunk").alias("n_bytes"),
        F.md5("chunk").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "multimodal_embed_ann",
    """
    WITH files AS (
      SELECT 'doc_' || i || '.bin' AS file_name,
             repeat(chr((65 + i)::INT), (100 + i)::INT) AS content
      FROM range(0, 8) t(i)
    ),
    embedded AS (
      SELECT file_name,
             [ ('0x' || substr(sha256(content) || sha256(content || 'x'),
                               2 * j + 1, 2))::INT::DOUBLE
               FOR j IN range(0, 64) ] AS q_vec
      FROM files
    ),
    corpus AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
      FROM embeddings
    ),
    scored AS (
      SELECT f.file_name, c.vec_id,
             ROUND(list_cosine_similarity(f.q_vec, c.v), 6) AS cos_sim
      FROM embedded f CROSS JOIN corpus c
    )
    SELECT file_name, vec_id, cos_sim, rnk FROM (
      SELECT file_name, vec_id, cos_sim,
             row_number() OVER (PARTITION BY file_name
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    ORDER BY file_name, rnk
    """,
)
def multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal retrieval pipeline: opaque binary blobs →
    deterministic feature vectors → cosine ANN against the embeddings
    corpus — the shape of image/audio semantic search (decode +
    embed executor-side, then the vector-search join).

    The 'embedding model' is an honest deterministic stand-in (no
    torch in this container): 64 dims read from sha256(content) ||
    sha256(content||'x') hex pairs — computed with BUILT-INS
    (sha2 + conv inside a transform), so the featurization is
    map-side JVM code the oracle replays exactly; a real model slots
    into the same position as a Pandas UDF over Arrow batches
    (udf_pandas_cosine shows that path).  Blobs stage as printable
    deterministic bytes so the oracle can reconstruct them with
    repeat(chr(..)) — content identity is asserted through the hash.

    Scale shape: featurization rides the binaryFile scan (no
    exchange); 8 query vectors broadcast against the corpus exactly
    like sim_topk_bruteforce (the exact re-rank stage); at 100 TB the
    corpus side swaps in the IVF/PQ probes (sim_topk_ivfpq) with the
    SAME query-side pipeline.
    """
    from pyspark.sql import Window

    stage = staging_dir(sf_dir, "blobs_ascii")
    os.makedirs(stage, exist_ok=True)
    for i in range(8):
        p = f"{stage}/doc_{i}.bin"
        if not os.path.exists(p):
            with open(p, "wb") as f:
                f.write(bytes([65 + i]) * (100 + i))
    blobs = spark.read.format("binaryFile").load(stage)
    h = F.concat(
        F.sha2(F.col("content"), 256),
        F.sha2(F.concat(F.col("content"), F.lit(b"x")), 256),
    )
    q = (
        blobs.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            h.alias("h"),
        )
        .select(
            "file_name",
            F.expr(
                "transform(sequence(0, 63),"
                " j -> cast(conv(substr(h, 2 * j + 1, 2), 16, 10) as double))"
            ).alias("q_vec"),
        )
    )
    corpus = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    from ..operators.similarity import cosine as _cos

    scored = corpus.crossJoin(F.broadcast(q)).select(
        "file_name",
        "vec_id",
        F.round(_cos(F.col("q_vec"), F.col("v")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("file_name").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.select("file_name", "vec_id", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .orderBy("file_name", "rnk")
    )


_RESIZE_ORACLE = """
WITH imgs AS (
  SELECT i, 16 + 4*i AS sw, 12 + 3*i AS sh FROM range(0, 4) t(i)
),
px AS (
  SELECT i, sw, sh, ty, tx, ch,
         chr((((((tx * sw) // 8) * 7 + ((ty * sh) // 6) * 13 + ch * 31 + i)
               % 126) + 1)::INT) AS b
  FROM imgs, range(0, 6) a(ty), range(0, 8) b(tx), range(0, 3) c(ch)
),
resized AS (
  SELECT i, sw, sh,
         string_agg(b, '' ORDER BY ty, tx, ch) AS s
  FROM px GROUP BY i, sw, sh
)
SELECT 'img_' || i || '_' || sw || 'x' || sh || '.raw' AS file_name,
       sw AS src_w, sh AS src_h,
       8 AS width, 6 AS height,
       strlen(s) AS n_bytes,
       sha256(s) AS sha256
FROM resized
ORDER BY file_name
"""


@query("multimodal_resize_meta", _RESIZE_ORACLE)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of staged raw RGB buffers → nearest-neighbor
    resize through the numpy mapInPandas kernel → typed output
    metadata.  STRONG oracle: source pixels follow the closed-form
    ``(x*7 + y*13 + ch*31 + i) % 126 + 1`` (ASCII-safe, so DuckDB can
    materialize bytes with chr/string_agg), and the kernel's floor
    index mapping is integer-exact — the oracle reconstructs every
    RESIZED byte from the formula alone and must match the engine's
    sha256 of the kernel output bit for bit.  Dimensions ride in the
    file name and are parsed into the metadata columns the kernel
    consumes — the decode-by-metadata contract of a real image
    pipeline (a compressed format would carry them in the header).
    """
    stage = staging_dir(sf_dir, "media_raw")
    os.makedirs(stage, exist_ok=True)
    for i in range(4):
        w, h = 16 + 4 * i, 12 + 3 * i
        p = f"{stage}/img_{i}_{w}x{h}.raw"
        if not os.path.exists(p):
            with open(p, "wb") as f:
                f.write(
                    bytes(
                        (x * 7 + y * 13 + ch * 31 + i) % 126 + 1
                        for y in range(h)
                        for x in range(w)
                        for ch in range(3)
                    )
                )
    scan = (
        spark.read.format("binaryFile")
        .load(stage)
        .select(
            "path",
            "content",
            F.regexp_extract("path", r"_(\d+)x(\d+)\.raw$", 1)
            .cast("int")
            .alias("width"),
            F.regexp_extract("path", r"_(\d+)x(\d+)\.raw$", 2)
            .cast("int")
            .alias("height"),
            F.lit(3).alias("n_channels"),
        )
    )
    src_dims = scan.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("width").alias("src_w"),
        F.col("height").alias("src_h"),
    )
    resized = resize_images(scan, target_w=8, target_h=6).select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "width",
        "height",
        F.octet_length("content").alias("n_bytes"),
        F.sha2("content", 256).alias("sha256"),
    )
    return (
        src_dims.join(resized, "file_name")
        .select("file_name", "src_w", "src_h", "width", "height", "n_bytes", "sha256")
        .orderBy("file_name")
    )
