"""Multimodal column plumbing: typed metadata + feature extraction
over opaque binary media columns.

The pattern a 100 TB multimodal pipeline needs: media as
``binary`` columns with typed metadata beside them, decode/feature
stages as Arrow-batched ``mapInPandas`` with explicit output schemas,
and partition-preserving plumbing (no shuffle to featurize).

The HPM1 codec stands in for image decode (this container has no
image libraries); ``frame_sample`` below is the video-style stage over
multi-page HPM1 objects (page = frame) — sampling, re-encode, and the
one-row-to-N-frames fan-out are fully implemented; a real video codec
would replace only the per-frame decode/encode calls.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import codec

MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("byte_size", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


def media_features(spans_with_media: DataFrame) -> DataFrame:
    """Explode the inline media of a documents_spans table into a
    per-media feature row: header metadata + mean pixel intensity.
    Narrow plan: the explode is per-row; no shuffle."""
    exploded = spans_with_media.select(
        "doc_id", F.explode("media").alias("m")
    ).select("doc_id", F.col("m.media_ref").alias("media_ref"), F.col("m.content").alias("content"))

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, ref, content in zip(pdf["doc_id"], pdf["media_ref"], pdf["content"]):
                if content is None:
                    # null bytes must be an error ROW (the schema's
                    # error column exists for this), not a job-killing
                    # bytes(None) TypeError — errors.py row-vs-job policy
                    rows.append((doc_id, ref, None, None, None, None, 0, None,
                                 "null media content"))
                    continue
                try:
                    info = codec.decode_media(bytes(content))
                    px = codec.render_pixels(
                        info.text, info.width, info.height,
                        bool(info.flags & codec.FLAG_BINARIZED),
                    )
                    rows.append(
                        (doc_id, ref, info.fmt, info.width, info.height,
                         info.npages, len(content), round(float(np.mean(px)), 4), None)
                    )
                except codec.MediaError as exc:
                    rows.append((doc_id, ref, None, None, None, None, len(content), None, str(exc)))
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURE_SCHEMA.fields])

    return exploded.mapInPandas(run, MEDIA_FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def frame_sample(spans_with_media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video-style frame sampling: one media row fans out to one row
    per sampled frame. Multi-page HPM1 objects stand in for video
    (page = frame; the reference's multi-page formats are PDF/TIFF,
    images.py:211-218): every ``every_n``-th page is re-encoded as a
    standalone single-page object, so downstream stages (features,
    annotate, grid) consume frames exactly like any other media. A
    real video codec would replace only the decode/encode calls —
    schema, Arrow batching, and the narrow no-shuffle fan-out are the
    production shape."""
    exploded = spans_with_media.select(
        "doc_id", F.explode("media").alias("m")
    ).select("doc_id", F.col("m.media_ref").alias("media_ref"), F.col("m.content").alias("content"))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, ref, content in zip(pdf["doc_id"], pdf["media_ref"], pdf["content"]):
                if content is None:  # row-level skip, never bytes(None)
                    continue
                try:
                    info = codec.decode_media(bytes(content))
                except codec.MediaError:
                    continue
                if info.npages <= 1:
                    # single-frame media: pass through frame 0 unchanged
                    rows.append((doc_id, ref, 0, bytes(content)))
                    continue
                binarized = bool(info.flags & codec.FLAG_BINARIZED)
                for i in range(0, len(info.pages), every_n):
                    frame = codec.encode_media(
                        info.pages[i],
                        fmt=info.fmt,
                        width=info.width,
                        height=info.height,
                        binarized=binarized,
                    )
                    rows.append((doc_id, ref, i, frame))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return exploded.mapInPandas(run, FRAME_SCHEMA)


def q_mm_media_features(spark, sf_dir):
    """Registered as the SQL-verifiable projection of media_features:
    per-media (fmt, width, height, n_pages, is_error) are fully
    re-derivable from the corpus rule (format = content hash of the
    media_ref, dims from the line length, error = the corrupt slice's
    line-0), so the DuckDB oracle checks every row end-to-end through
    the real decode path. byte_size / mean_pixel (zlib + pixel render —
    not SQL-expressible) stay on the media_features() operator surface
    and are pytest-verified (tests/test_codec_decoder.py)."""
    from ..corpus import load_documents_spans

    feats = media_features(load_documents_spans(spark, sf_dir))
    return feats.select(
        "doc_id",
        "media_ref",
        "fmt",
        "width",
        "height",
        "n_pages",
        F.col("error").isNotNull().alias("is_error"),
    )


def _sql_mm_media_features() -> str:
    from ..corpus import CORPUS_MEDIA_SQL, MEDIA_FORMATS

    fmts = "[" + ", ".join(f"'{f}'" for f in MEDIA_FORMATS) + "]"
    return f"""
SELECT doc_id,
       media_ref,
       CASE WHEN is_error THEN NULL ELSE
         list_extract({fmts},
           CAST(('0x' || substr(sha256(media_ref), 1, 8))::BIGINT
                % {len(MEDIA_FORMATS)} AS INT) + 1) END AS fmt,
       CAST(CASE WHEN is_error THEN NULL
                 ELSE least(320, 64 + 8 * len(line)) END AS INT) AS width,
       CAST(CASE WHEN is_error THEN NULL ELSE 24 END AS INT) AS height,
       CAST(CASE WHEN is_error THEN NULL ELSE 1 END AS INT) AS n_pages,
       is_error
FROM ({CORPUS_MEDIA_SQL})
"""


FRAME_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_text", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def q_mm_frame_sample(spark, sf_dir):
    """End-to-end frame sampling, driver-verifiable: build one
    MULTI-PAGE media object per document (page = corpus line — the
    video-proxy shape the reference's multi-page PDF/TIFF handling
    implies, images.py:211-218), run it through ``frame_sample``
    (every 2nd page re-encoded as a standalone frame), then DECODE
    each sampled frame back. The projection (frame_index, frame_text,
    dims) is fully re-derivable from the corpus rule, so the DuckDB
    oracle checks the whole encode → sample → re-encode → decode path
    per frame; the frame bytes themselves stay binary plumbing.
    Narrow plan end-to-end: build, fan-out, and decode are all
    per-row mapInPandas/pandas_udf stages — zero shuffles."""
    from ..corpus import doc_lines, media_format

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )

    @F.pandas_udf(T.BinaryType())
    def build(doc_ids, texts):
        import pandas as pd

        out = []
        for doc_id, text in zip(doc_ids, texts):
            lines = doc_lines(doc_id, text or "")
            if not lines:
                out.append(None)
                continue
            width = min(320, 64 + 8 * max(len(ln) for ln in lines))
            out.append(
                codec.encode_media(
                    lines[0],
                    fmt=media_format(f"{doc_id}/video"),
                    width=width,
                    height=24,
                    pages=lines,
                )
            )
        return pd.Series(out)

    with_media = (
        docs.select("doc_id", build("doc_id", "text").alias("content"))
        .where(F.col("content").isNotNull())
        .select(
            "doc_id",
            F.array(
                F.struct(
                    F.concat("doc_id", F.lit("/video")).alias("media_ref"),
                    F.col("content").alias("content"),
                )
            ).alias("media"),
        )
    )
    frames = frame_sample(with_media, every_n=2)

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, idx, frame in zip(pdf["doc_id"], pdf["frame_index"], pdf["frame"]):
                # verify_pixels stays ON deliberately: an A/B at sf0.1
                # (warm min-of-4) measured no difference (5.30s vs
                # 5.03s, within host noise — the sparse level-1 planes
                # decompress cheaply next to the per-frame re-render),
                # so the stronger end-to-end round-trip check is free.
                info = codec.decode_media(bytes(frame))
                rows.append((doc_id, int(idx), info.text, info.width, info.height))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_TEXT_SCHEMA.fields]
            )

    return frames.mapInPandas(decode, FRAME_TEXT_SCHEMA)


def _sql_mm_frame_sample() -> str:
    from ..corpus import CORPUS_LINES_SQL

    return f"""
WITH docs AS (
  SELECT doc_id, lines,
         least(320, 64 + 8 * list_max(list_transform(lines, l -> len(l)))) AS width
  FROM ({CORPUS_LINES_SQL}) WHERE len(lines) > 0
)
SELECT doc_id,
       CAST(i AS INT) AS frame_index,
       lines[CAST(i AS INT) + 1] AS frame_text,
       CAST(width AS INT) AS width,
       CAST(24 AS INT) AS height
FROM (SELECT doc_id, lines, width, unnest(range(0, len(lines), 2)) AS i FROM docs)
"""


# --- interleaved sequence packing ----------------------------------------------

MEDIA_TOKEN_COST = 16  # fixed token budget an image span occupies
SEQ_BUDGET = 64        # tokens per packed training sequence


def q_mm_interleave_pack(spark, sf_dir):
    """Pack a document's interleaved text+media spans into fixed
    token-budget training sequences — the data-loader output shape for
    multimodal LM training (the interleaved analog of
    ``cur_shard_pack``'s text-only packing).

    Cost model: a text span costs its word count, a media span a fixed
    MEDIA_TOKEN_COST. A span joins the sequence its running offset
    starts in (spans are never split; a sequence may overflow by one
    span — the standard greedy packer). Shape: explode the span table,
    one hashpartitioning(doc_id) exchange shared by the running-sum
    window and the per-sequence rollup (plan-asserted); span order
    inside a document never crosses partitions, so 10^12 docs pack
    embarrassingly parallel. The spans come from the same
    ``load_documents_spans`` derivation the flagship pipeline reads;
    selecting only the spans column prunes the HPM1 media-encode UDF
    out of the plan entirely (asserted: no EvalPython)."""
    from pyspark.sql import Window

    from ..corpus import load_documents_spans

    rows = (
        load_documents_spans(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.offset").alias("offset"),
            F.when(
                F.col("s.kind") == "text", F.size(F.split(F.col("s.text"), " "))
            )
            .otherwise(F.lit(MEDIA_TOKEN_COST))
            .cast("int")
            .alias("cost"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    packed = rows.withColumn(
        "seq_id",
        F.floor(
            F.coalesce(
                F.sum("cost").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            / SEQ_BUDGET
        ).cast("int"),
    )
    return packed.groupBy("doc_id", "seq_id").agg(
        F.count("*").cast("int").alias("n_spans"),
        F.sum((F.col("kind") == "text").cast("int")).cast("int").alias("n_text"),
        F.sum((F.col("kind") != "text").cast("int")).cast("int").alias("n_media"),
        F.sum("cost").cast("int").alias("tokens"),
        F.min("offset").alias("first_offset"),
        F.max("offset").alias("last_offset"),
    )


def _sql_mm_interleave_pack() -> str:
    from ..corpus import CORPUS_SPANS_SQL

    return f"""
WITH packed AS (
  SELECT doc_id, kind, off, cost,
         CAST(floor(coalesce(sum(cost) OVER (PARTITION BY doc_id ORDER BY off
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0)
                    / {SEQ_BUDGET}) AS INT) AS seq_id
  FROM (SELECT doc_id, kind, off,
               CASE WHEN kind = 'text' THEN len(string_split(text, ' '))
                    ELSE {MEDIA_TOKEN_COST} END AS cost
        FROM ({CORPUS_SPANS_SQL}))
)
SELECT doc_id, seq_id,
       CAST(count(*) AS INT) AS n_spans,
       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS INT) AS n_text,
       CAST(sum(CASE WHEN kind != 'text' THEN 1 ELSE 0 END) AS INT) AS n_media,
       CAST(sum(cost) AS INT) AS tokens,
       CAST(min(off) AS INT) AS first_offset,
       CAST(max(off) AS INT) AS last_offset
FROM packed GROUP BY doc_id, seq_id
"""


def caption_align(spans_df: DataFrame) -> DataFrame:
    """(doc_id, media_ref, offset, cap_before, cap_after): pair every
    media span with its nearest text span on each side by offset — the
    MMC4/OBELICS-style image-text pairing step that turns interleaved
    documents into (image, caption) training rows. Generic over ANY
    interleaving: runs of consecutive media spans share the same
    flanking captions; a leading/trailing media span gets NULL on the
    open side.

    Shape: one hashpartitioning(doc_id) exchange shared by both
    ignore-nulls windows (same partitioning + ordering → one sort);
    span order never crosses documents, so 10^12 docs align
    embarrassingly parallel."""
    from pyspark.sql import Window

    rows = spans_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    txt = F.when(F.col("kind") == "text", F.col("text"))
    aligned = rows.select(
        "doc_id",
        "kind",
        "media_ref",
        "offset",
        F.last(txt, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("cap_before"),
        F.first(txt, ignorenulls=True)
        .over(w.rowsBetween(1, Window.unboundedFollowing))
        .alias("cap_after"),
    )
    return aligned.filter(F.col("kind") != "text").select(
        "doc_id", "media_ref", "offset", "cap_before", "cap_after"
    )


def q_mm_caption_align(spark, sf_dir):
    """caption_align over the corpus span derivation; selecting only
    the spans column prunes the media-encode UDF out of the plan (no
    EvalPython). The alternating synthetic layout is one case of the
    generic alignment — the pytest proves the general one (media runs,
    leading media) on a hand-built document."""
    from ..corpus import load_documents_spans

    return caption_align(load_documents_spans(spark, sf_dir).select("doc_id", "spans"))


def _sql_mm_caption_align() -> str:
    from ..corpus import CORPUS_SPANS_SQL

    return f"""
WITH aligned AS (
  SELECT doc_id, kind, media_ref, off,
         last_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
             OVER (PARTITION BY doc_id ORDER BY off
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS cap_before,
         first_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
             OVER (PARTITION BY doc_id ORDER BY off
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
             AS cap_after
  FROM ({CORPUS_SPANS_SQL})
)
SELECT doc_id, media_ref, CAST(off AS INT) AS offset, cap_before, cap_after
FROM aligned WHERE kind != 'text'
"""


# --- perceptual-hash media dedup ---------------------------------------------
#
# Image near-dup detection, the multimodal half of the dedup family:
# decode each media object, compute a 64-bit average hash (aHash) over
# an 8x8 block grid of the pixel plane, band the hash into four 16-bit
# chunks (the SimHash 20/20/20 pigeonhole at image width: any pair
# within Hamming distance MM_PHASH_HD <= 3 shares at least one intact
# band — EXACT recall, no n^2), equi-join on (band, chunk) for
# candidates, and verify with bit_count(xor) <= MM_PHASH_HD.
#
# Oracle story (the mm_media_features precedent): HPM1 pixel planes
# are keyed by (text, dims) through an XOF, so media objects share a
# phash iff they share their line text (cross-text planes are
# independent 64-bit draws: a <= 3-bit collision has probability
# ~4e4/2^64 per pair — absent at any test scale). The DuckDB oracle
# therefore re-derives the duplicate groups from the corpus line rule
# and checks every count through the REAL decode→hash→band-join path;
# the Hamming machinery for genuinely near (0 < hd <= 3) pairs is
# pinned by pytest on planted hash tables (tests/test_session5_ops).

MM_PHASH_BANDS = 4
MM_PHASH_BAND_BITS = 16
MM_PHASH_HD = 3

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def ahash64(px) -> int:
    """64-bit average hash of a 2-D uint8 pixel plane: 8x8 block grid,
    bit = block mean > global mean, row-major MSB-first. Pure function
    of the plane; signed-int64 representation for Spark LongType.

    Vectorized: one reduceat per axis replaces 64 per-block mean calls
    (the hash runs once per media object — 10^8+ calls at corpus
    scale). Empty blocks (dims < 8) score 0, as before. Block means
    compare as exact integer cross-products (sum_block * n_total >
    sum_total * n_block) — no float at all, so the verdict cannot
    drift with summation shape."""
    import numpy as np

    h, w = px.shape
    if h == 0 or w == 0:
        return 0
    rb = np.array([r * h // 8 for r in range(8)], dtype=np.intp)
    cb = np.array([c * w // 8 for c in range(8)], dtype=np.intp)
    s = np.add.reduceat(
        np.add.reduceat(px.astype(np.int64), rb, axis=0), cb, axis=1
    )
    rn = np.diff(np.append(rb, h))
    cn = np.diff(np.append(cb, w))
    n_blk = np.outer(rn, cn)
    total = int(px.sum(dtype=np.int64))
    # bit = (block sum / block n) > (total / n)  <=>  cross-multiplied
    bits = (s * int(px.size)) > (total * n_blk)
    bits &= n_blk > 0
    v = np.uint64(0)
    for bit in bits.ravel():
        v = (v << np.uint64(1)) | np.uint64(bool(bit))
    return int(v.astype(np.int64))


def media_phash(spans_with_media: DataFrame) -> DataFrame:
    """(doc_id, media_ref, phash) per media object; phash NULL for
    undecodable media (row verdict, never a job error). Narrow
    mapInPandas — no shuffle to hash."""
    exploded = spans_with_media.select("doc_id", F.explode("media").alias("m")).select(
        "doc_id",
        F.col("m.media_ref").alias("media_ref"),
        F.col("m.content").alias("content"),
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, refs, vals = [], [], []
            for doc_id, ref, content in zip(pdf["doc_id"], pdf["media_ref"], pdf["content"]):
                ids.append(doc_id)
                refs.append(ref)
                try:
                    if content is None:
                        raise codec.MediaError("null media content")
                    vals.append(ahash64(codec.decode_pixels(bytes(content))))
                except codec.MediaError:
                    vals.append(None)
            # phash MUST be a nullable-Int64 pandas array: a plain
            # mixed int/None column coerces to float64, whose 53-bit
            # mantissa silently rounds the low bits of every 64-bit
            # hash in any batch that also contains one corrupt media
            # object (caught live: two equal planes hashed 338 apart
            # because one batch held a corrupt sibling).
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media_ref": refs,
                    "phash": pd.array(vals, dtype="Int64"),
                }
            )

    return exploded.mapInPandas(run, PHASH_SCHEMA)


def phash_pairs(hashes: DataFrame, hd: int = MM_PHASH_HD) -> DataFrame:
    """Verified near-dup pairs (ref_a < ref_b, hamming <= hd) from a
    (media_ref, phash) frame via the banded equi-join — candidates
    only where a 16-bit band matches, exact recall for hd <= 3 by
    pigeonhole over 4 bands."""
    mask = (1 << MM_PHASH_BAND_BITS) - 1
    posting = hashes.filter(F.col("phash").isNotNull()).select(
        "media_ref",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("phash", b * MM_PHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(MM_PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("media_ref", "phash", "bk.band", "bk.chunk")
    a, b = posting.alias("a"), posting.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.media_ref") < F.col("b.media_ref")),
        )
        .select(
            F.col("a.media_ref").alias("ref_a"),
            F.col("b.media_ref").alias("ref_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias("hd"),
        )
        .filter(F.col("hd") <= hd)
        .distinct()
    )


def q_mm_phash_clusters(spark, sf_dir):
    """(media_ref, cluster, is_keeper): image duplicate CLUSTERS —
    connected components over the verified phash pair graph, resolved
    by the SAME adaptive CC core as the text path (dedup.
    duplicate_clusters: driver union-find under the edge bound,
    distributed min-label + pointer jumping above it), so the
    multimodal dedup story runs the full production sequence
    decode → hash → banded pairs → clusters → keeper. Only media with
    at least one duplicate appear (singletons need no resolution).
    Oracle: on this corpus components are exactly the line-text
    groups (see q_mm_phash_dedup's oracle story), re-derived from the
    corpus rule with lowest-ref keeper semantics — matching the CC
    min-label fixpoint digit-for-digit."""
    from ..corpus import load_documents_spans
    from .dedup import duplicate_clusters

    hashes = media_phash(load_documents_spans(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    pairs = phash_pairs(hashes).select(
        F.col("ref_a").alias("d1"), F.col("ref_b").alias("d2")
    )
    return duplicate_clusters(pairs).select(
        F.col("doc_id").alias("media_ref"), "cluster", "is_keeper"
    )


def _sql_mm_phash_clusters() -> str:
    from ..corpus import CORPUS_MEDIA_SQL

    return f"""
WITH media AS (
  SELECT CASE WHEN is_error THEN NULL ELSE line END AS line, media_ref
  FROM ({CORPUS_MEDIA_SQL})
), groups AS (
  SELECT line, min(media_ref) AS canon
  FROM media WHERE line IS NOT NULL
  GROUP BY line HAVING count(*) >= 2
)
SELECT m.media_ref, g.canon AS cluster, (m.media_ref = g.canon) AS is_keeper
FROM media m JOIN groups g USING (line)
"""


def q_mm_phash_dedup(spark, sf_dir):
    """(doc_id, media_ref, is_error, n_exact_dups, n_near_dups,
    is_canonical): per-media duplicate stats through the full
    decode → aHash → banded-join path. n_exact_dups counts
    phash-identical partners (groupBy on the hash — the shippable
    image-dedup verdict); n_near_dups counts partners within
    MM_PHASH_HD through the banded join (equals n_exact_dups on this
    corpus — see the oracle story above); is_canonical keeps the
    lexicographically-first ref per exact group (NULL on error rows).
    """
    from ..corpus import load_documents_spans

    hashes = media_phash(load_documents_spans(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    groups = (
        hashes.filter(F.col("phash").isNotNull())
        .groupBy("phash")
        .agg(
            F.count("*").alias("gsz"),
            F.min("media_ref").alias("canon"),
        )
    )
    near = (
        phash_pairs(hashes)
        .select(F.explode(F.array("ref_a", "ref_b")).alias("media_ref"))
        .groupBy("media_ref")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        hashes.join(groups, "phash", "left")
        .join(near, "media_ref", "left")
        .select(
            "doc_id",
            "media_ref",
            F.col("phash").isNull().alias("is_error"),
            (F.col("gsz") - 1).cast("int").alias("n_exact_dups"),
            F.when(
                F.col("phash").isNotNull(), F.coalesce(F.col("n_near"), F.lit(0))
            )
            .cast("int")
            .alias("n_near_dups"),
            F.when(F.col("phash").isNotNull(), F.col("media_ref") == F.col("canon"))
            .alias("is_canonical"),
        )
    )


def _sql_mm_phash_dedup() -> str:
    from ..corpus import CORPUS_MEDIA_SQL

    return f"""
WITH media AS (
  SELECT doc_id, media_ref, CASE WHEN is_error THEN NULL ELSE line END AS line
  FROM ({CORPUS_MEDIA_SQL})
), groups AS (
  SELECT line, count(*) AS gsz, min(media_ref) AS canon
  FROM media WHERE line IS NOT NULL GROUP BY line
)
SELECT m.doc_id, m.media_ref,
       (m.line IS NULL) AS is_error,
       CAST(g.gsz - 1 AS INT) AS n_exact_dups,
       CAST(g.gsz - 1 AS INT) AS n_near_dups,
       CASE WHEN m.line IS NULL THEN NULL
            ELSE m.media_ref = g.canon END AS is_canonical
FROM media m LEFT JOIN groups g USING (line)
"""


QUERIES = {
    "mm_media_features": q_mm_media_features,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_interleave_pack": q_mm_interleave_pack,
    "mm_caption_align": q_mm_caption_align,
    "mm_phash_dedup": q_mm_phash_dedup,
    "mm_phash_clusters": q_mm_phash_clusters,
}
ORACLES: dict[str, str] = {
    "mm_phash_dedup": _sql_mm_phash_dedup(),
    "mm_phash_clusters": _sql_mm_phash_clusters(),
    "mm_media_features": _sql_mm_media_features(),
    "mm_frame_sample": _sql_mm_frame_sample(),
    "mm_interleave_pack": _sql_mm_interleave_pack(),
    "mm_caption_align": _sql_mm_caption_align(),
}
