"""Registered multimodal queries (north-star [ext]).

``multimodal_binary_metadata`` is pure column math on the payload bytes, so
it gets a full DuckDB oracle. ``multimodal_fake_features`` crosses into the
Arrow worker (mapInArrow); its oracle re-derives the fake decode from md5
in SQL, and the array form is pinned by unit tests (tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    AUDIO_DCT_BASIS,
    AUDIO_DCT_N,
    AUDIO_SPEC_OFFSET,
    AUDIO_SPEC_SHIFT,
    attach_binary_payload,
    extract_features,
)
from ..sources.readers import load_table
from .registry import register


@register(
    "multimodal_binary_metadata",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS digest,
               substr(text, 1, 4) AS header_text
        FROM documents
    """,
    doc="[ext] opaque-binary metadata extraction: payload size, content digest, "
    "header probe — the typed-metadata side of a multimodal column.",
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "doc_id", "text")
    return payloads.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("digest"),
        F.decode(F.expr("substring(payload, 1, 4)"), "UTF-8").alias("header_text"),
    )


def _md5_byte_sql(i: int) -> str:
    """DuckDB SQL for byte ``i`` of md5(text) as a BIGINT (hex-pair decode
    via strpos — portable, no 0x-cast dependence)."""
    hi = f"strpos('0123456789abcdef', substr(md5(text), {2 * i + 1}, 1)) - 1"
    lo = f"strpos('0123456789abcdef', substr(md5(text), {2 * i + 2}, 1)) - 1"
    return f"CAST(({hi}) * 16 + ({lo}) AS BIGINT)"


_FAKE_FEATURES_ORACLE = (
    "SELECT doc_id,\n"
    "       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,\n"
    "       substr(lower(hex(encode(text))), 1, 8) AS header,\n"
    + ",\n".join(f"       {_md5_byte_sql(i)} AS f{i}" for i in range(8))
    + "\nFROM documents"
)


@register(
    "multimodal_fake_features",
    # The fake decoder's feature i is float32(md5_byte_i / 255); multiplying
    # back by 255 and rounding recovers the exact byte (float32 error « 0.5),
    # so the mapInArrow output is checkable against a pure-SQL md5 decode.
    oracle=_FAKE_FEATURES_ORACLE,
    doc="[ext] Arrow-batched feature extraction over binary payloads "
    "(mapInArrow; decode stubbed behind a deterministic fake — the Spark "
    "plumbing, schema and batching are real). Registered surface emits the "
    "features as exact integer bytes f0..f7 so the output is scalar-sortable "
    "AND fully oracle-checked; the raw array<float> form stays available via "
    "operators.multimodal.extract_features for downstream ANN.",
)
def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "doc_id", "text")
    feats = extract_features(payloads)
    byte_cols = [
        F.round(F.element_at("feature", i + 1).cast("double") * 255.0, 0)
        .cast("long")
        .alias(f"f{i}")
        for i in range(8)
    ]
    return feats.select("doc_id", "n_bytes", "header", *byte_cols)


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH sizes AS (
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) AS n_frames
            FROM documents
        ),
        idx AS (
            SELECT doc_id, n_bytes, n_frames,
                   unnest(range(0, n_frames, 4)) AS frame_idx
            FROM sizes
        )
        SELECT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(least(16, n_bytes - frame_idx * 16) AS BIGINT) AS frame_bytes,
               n_frames
        FROM idx
    """,
    doc="[ext] video-style frame sampling (every 4th 16-byte chunk) through the "
    "row-EXPANDING mapInPandas path; the emitted frame METADATA (index, size, "
    "count) is oracle-checked — the bytes themselves are pinned by unit tests "
    "(DuckDB substr is character-based, so byte slices of multibyte text "
    "can't cross engines).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "doc_id", "text")
    return sample_frames(payloads, frame_bytes=16, every_n=4).select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


# ---------------------------------------------------------------------------
# Image near-dup dedup (r7 verdict item 2): perceptual hash over decoded
# pixel grids -> banded Hamming pairing -> survivor anti-join.
# ---------------------------------------------------------------------------
#
# The synthetic corpus has no real images, so — exactly like plans/pii.py
# derives contact blobs — the queries run over SYNTHETIC 8x8 GRAY8 bitmaps
# built deterministically from md5 (the same digest-as-pixels construction
# as the fake decode in operators.multimodal.extract_features): docs in
# the same group of 8 share a base image, and each non-canonical variant
# perturbs exactly ONE pixel, so variant->canonical Hamming distance over the
# 56-bit dHash is <= 2 BY CONSTRUCTION (one pixel touches two horizontal
# comparisons). That gives the pairing stage genuine near-duplicates (not
# just hamming-0 exact copies) while keeping every byte oracle-expressible.

_IMG_ROWS = 8
_IMG_COLS = 8
_IMG_GROUP = 8  # docs per image group — FIXED size, never corpus-tracking


def synthetic_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw 8x8 GRAY8 bitmap per document: row r of doc_id's group
    image is the first 8 bytes of md5('img:<group>:<r>'); non-canonical
    variants (doc_id % 8 != 0) splice one md5('doc:<doc_id>')-derived
    byte at pixel (doc_id % 8, group % 8). Pure Catalyst binary math —
    the bitmap IS the payload column a storage layer would hand us."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.expr(f"doc_id div {_IMG_GROUP}").alias("g"),
        (F.col("doc_id") % _IMG_GROUP).alias("v"),
        F.expr(f"(doc_id div {_IMG_GROUP}) % {_IMG_COLS}").alias("cs"),
    ).withColumn(
        "pbyte",
        F.unhex(
            F.substring(
                F.md5(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))), 1, 2
            )
        ),
    )
    for r in range(_IMG_ROWS):
        d = d.withColumn(
            f"row{r}",
            F.unhex(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("img:"), F.col("g").cast("string"), F.lit(f":{r}")
                        )
                    ),
                    1,
                    2 * _IMG_COLS,
                )
            ),
        )
    row_exprs = [
        F.expr(
            f"CASE WHEN v = {r} AND v <> 0 THEN "
            f"concat(substring(row{r}, 1, cs), pbyte, "
            f"substring(row{r}, cs + 2, {_IMG_COLS - 1} - cs)) "
            f"ELSE row{r} END"
        )
        for r in range(_IMG_ROWS)
    ]
    return d.select(
        "doc_id", F.concat(*row_exprs).alias("payload")
    )


def _img_hex_byte(h: str, i: int) -> str:
    """DuckDB: byte ``i`` of hex digest expr ``h`` as an integer."""
    hi = f"strpos('0123456789abcdef', substr({h}, {2 * i + 1}, 1)) - 1"
    lo = f"strpos('0123456789abcdef', substr({h}, {2 * i + 2}, 1)) - 1"
    return f"(({hi}) * 16 + ({lo}))"


def _img_ph_ctes(where: str = "") -> str:
    """The image bitmap + dHash construction as reusable DuckDB CTE bodies
    (``d``/``hx``/``px``/``ph`` — no leading WITH so callers can splice it
    after other fragments); ``where`` optionally restricts the doc set."""
    px_cols = ",\n               ".join(
        f"CASE WHEN v = {r} AND v <> 0 AND cs = {c} "
        f"THEN {_img_hex_byte('hd', 0)} "
        f"ELSE {_img_hex_byte(f'h{r}', c)} END AS p{r}_{c}"
        for r in range(_IMG_ROWS)
        for c in range(_IMG_COLS)
    )
    h_cols = ",\n               ".join(
        f"md5('img:' || g || ':{r}') AS h{r}" for r in range(_IMG_ROWS)
    )
    phash = " + ".join(
        f"CASE WHEN p{r}_{c} > p{r}_{c + 1} THEN {1 << (r * (_IMG_COLS - 1) + c)} ELSE 0 END"
        for r in range(_IMG_ROWS)
        for c in range(_IMG_COLS - 1)
    )
    return f"""d AS (
        SELECT doc_id, doc_id // {_IMG_GROUP} AS g, doc_id % {_IMG_GROUP} AS v,
               (doc_id // {_IMG_GROUP}) % {_IMG_COLS} AS cs
        FROM documents {where}
    ),
    hx AS (
        SELECT doc_id, v, cs,
               {h_cols},
               md5('doc:' || doc_id) AS hd
        FROM d
    ),
    px AS (
        SELECT doc_id,
               {px_cols}
        FROM hx
    ),
    ph AS (
        SELECT doc_id, CAST({phash} AS BIGINT) AS phash FROM px
    )"""


def _img_oracle() -> str:
    """The identical bitmap + dHash construction as generated DuckDB SQL:
    brute-force O(n^2) Hamming pairing (bit_count(xor(..)) — fine at the
    oracle's 500-doc scale) against which the banded Spark plan's pair
    set and survivor anti-join are hash-checked."""
    return f"""
    WITH {_img_ph_ctes()},
    pairs AS (
        SELECT l.doc_id AS id_l, r.doc_id AS id_r
        FROM ph l JOIN ph r
          ON l.doc_id < r.doc_id
         AND bit_count(xor(l.phash, r.phash)) <= 2
    )
    SELECT p.doc_id, p.phash FROM ph p
    WHERE p.doc_id NOT IN (SELECT id_r FROM pairs)
    """


@register(
    "image_near_dup_survivors",
    oracle=_img_oracle(),
    doc="[ext] IMAGE near-dup dedup — the multimodal twin of the text "
    "near-dup spine: raw-bitmap payloads decode to pixel grids "
    "(mapInPandas), a 56-bit perceptual dHash summarizes each image, "
    "banded Hamming pairing (the simhash pigeonhole machinery, "
    "max_hamming=2) finds near-duplicate images WITHOUT an all-pairs "
    "join, and the survivor anti-join keeps each cluster's lowest-id "
    "image. Oracle = the same bitmap/dHash math in pure SQL with "
    "brute-force quadratic pairing.",
)
def image_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pHash pass is map-only (payload bytes never shuffle —
    only the 16-byte (doc_id, phash) relation moves); pairing is the
    pigeonhole band equi-join (operators/dedup.py simhash_banded_pairs:
    3 bands of ~19 bits for h<=2, so bucket collisions are planted
    structure plus ~n^2/2^19 noise — sub-linear candidate growth until
    the corpus approaches 2^19 images per band value, at which point
    widen the hash, same lever as the text simhash). Survivor anti-join
    is a broadcast-able distinct id relation. Group size is FIXED at 8
    (never corpus-tracking), so the pair relation grows linearly."""
    from ..operators.dedup import simhash_banded_pairs
    from ..operators.multimodal import perceptual_dhash

    sig = perceptual_dhash(synthetic_images(spark, sf_dir))
    pairs = simhash_banded_pairs(
        sig.withColumnRenamed("phash", "simhash"),
        "doc_id",
        max_hamming=2,
        bits=56,
    )
    dropped = pairs.select(F.col("id_r").alias("doc_id")).distinct()
    return sig.join(dropped, "doc_id", "left_anti").select("doc_id", "phash")


# ---------------------------------------------------------------------------
# Video near-dup dedup (r8 verdict item 4): the remaining LLM-pipeline
# modality — composed entirely from existing machinery: sample_frames
# (operators/multimodal.py) -> per-frame perceptual_dhash -> banded
# Hamming pairing where ANY sampled-frame pair within h<=2 links two
# videos -> lowest-id survivor anti-join.
# ---------------------------------------------------------------------------
#
# Synthetic videos, same oracle-expressible construction as the images
# above: a video is _VID_FRAMES concatenated 8x8 GRAY8 bitmaps; docs in
# the same group of 8 share the base frames, and each non-canonical
# variant (doc_id % 8 != 0) perturbs exactly ONE pixel (v, cs) in EVERY
# frame — with a different md5-derived byte per frame — so every sampled
# variant frame sits at dHash Hamming <= 2 from its canonical twin (one
# pixel touches two horizontal comparisons) and the pairing stage must
# exercise the Hamming tolerance on every planted pair, not ride a
# hamming-0 untouched frame.

_VID_FRAMES = 4  # frames per video — FIXED, never corpus-tracking
_VID_EVERY_N = 2  # sample_frames stride: frames 0 and 2 are sampled


def synthetic_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw payload of ``_VID_FRAMES`` concatenated 8x8 GRAY8 bitmaps
    per document: row r of frame f of doc_id's group video is the first
    8 bytes of md5('vid:<group>:<f>:<r>'); variants splice byte f of
    md5('doc:<doc_id>') at pixel (doc_id % 8, group % 8) of every frame.
    Pure Catalyst binary math — the bytes ARE the payload column."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.expr(f"doc_id div {_IMG_GROUP}").alias("g"),
        (F.col("doc_id") % _IMG_GROUP).alias("v"),
        F.expr(f"(doc_id div {_IMG_GROUP}) % {_IMG_COLS}").alias("cs"),
        F.md5(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))).alias("hd"),
    )
    frame_exprs = []
    for f in range(_VID_FRAMES):
        # byte f of the doc digest: a different splice byte per frame
        pbyte = F.unhex(F.substring("hd", 2 * f + 1, 2))
        d = d.withColumn(f"pb{f}", pbyte)
        for r in range(_IMG_ROWS):
            d = d.withColumn(
                f"f{f}r{r}",
                F.unhex(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("vid:"),
                                F.col("g").cast("string"),
                                F.lit(f":{f}:{r}"),
                            )
                        ),
                        1,
                        2 * _IMG_COLS,
                    )
                ),
            )
            frame_exprs.append(
                F.expr(
                    f"CASE WHEN v = {r} AND v <> 0 THEN "
                    f"concat(substring(f{f}r{r}, 1, cs), pb{f}, "
                    f"substring(f{f}r{r}, cs + 2, {_IMG_COLS - 1} - cs)) "
                    f"ELSE f{f}r{r} END"
                )
            )
    return d.select("doc_id", F.concat(*frame_exprs).alias("payload"))


def _hex_byte_at(h: str, iexpr: str) -> str:
    """DuckDB: byte at EXPRESSION index ``iexpr`` of hex digest ``h``."""
    hi = f"strpos('0123456789abcdef', substr({h}, 2 * ({iexpr}) + 1, 1)) - 1"
    lo = f"strpos('0123456789abcdef', substr({h}, 2 * ({iexpr}) + 2, 1)) - 1"
    return f"(({hi}) * 16 + ({lo}))"


def _vid_oracle() -> str:
    """The identical frame construction as generated DuckDB SQL, one row
    per (doc, sampled frame), brute-force any-frame Hamming pairing."""
    sampled = ", ".join(f"({f})" for f in range(0, _VID_FRAMES, _VID_EVERY_N))
    px_cols = ",\n               ".join(
        f"CASE WHEN v = {r} AND v <> 0 AND cs = {c} "
        f"THEN {_hex_byte_at('hd', 'f')} "
        f"ELSE {_img_hex_byte(f'h{r}', c)} END AS p{r}_{c}"
        for r in range(_IMG_ROWS)
        for c in range(_IMG_COLS)
    )
    h_cols = ",\n               ".join(
        f"md5('vid:' || g || ':' || f || ':{r}') AS h{r}" for r in range(_IMG_ROWS)
    )
    phash = " + ".join(
        f"CASE WHEN p{r}_{c} > p{r}_{c + 1} THEN {1 << (r * (_IMG_COLS - 1) + c)} ELSE 0 END"
        for r in range(_IMG_ROWS)
        for c in range(_IMG_COLS - 1)
    )
    return f"""
    WITH d AS (
        SELECT doc_id, doc_id // {_IMG_GROUP} AS g, doc_id % {_IMG_GROUP} AS v,
               (doc_id // {_IMG_GROUP}) % {_IMG_COLS} AS cs,
               md5('doc:' || doc_id) AS hd
        FROM documents
    ),
    hx AS (
        SELECT doc_id, v, cs, hd, f,
               {h_cols}
        FROM d CROSS JOIN (VALUES {sampled}) AS fr(f)
    ),
    px AS (
        SELECT doc_id, f,
               {px_cols}
        FROM hx
    ),
    ph AS (
        SELECT doc_id, f, CAST({phash} AS BIGINT) AS phash FROM px
    ),
    pairs AS (
        SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
        FROM ph l JOIN ph r
          ON l.doc_id < r.doc_id
         AND bit_count(xor(l.phash, r.phash)) <= 2
    )
    SELECT p.doc_id, p.phash AS phash0
    FROM ph p
    WHERE p.f = 0
      AND p.doc_id NOT IN (SELECT id_r FROM pairs)
    """


@register(
    "video_near_dup_survivors",
    oracle=_vid_oracle(),
    doc="[ext] VIDEO near-dup dedup — completes the multimodal dedup "
    "family: multi-frame binary payloads flow through the row-EXPANDING "
    "frame sampler (every 2nd 64-byte frame), each sampled frame gets "
    "the 56-bit perceptual dHash, banded Hamming pairing over ALL frames "
    "links two videos when ANY cross-video frame pair sits within h<=2, "
    "and the survivor anti-join keeps each cluster's lowest-id video. "
    "Oracle = the same frame/dHash math in pure SQL with brute-force "
    "any-frame pairing.",
)
def video_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: frame sampling + pHash are ONE map-only pass (payload bytes
    never shuffle; every_n=2 halves the hashed frames, the standard
    recall/cost lever); pairing runs on the (frame_id, phash) relation —
    16 B/row x sampled frames — through the same pigeonhole band
    equi-join as the image/text paths (3 bands of ~19 bits at h<=2), so
    candidates are planted structure plus ~m^2/2^19 noise for m sampled
    frames. Frame ids pack as doc_id * _VID_FRAMES + frame_idx, so the
    band join needs no composite keys; videos pair via least/greatest on
    the decoded ids. Group size and frame count are FIXED (never
    corpus-tracking): the pair relation grows linearly."""
    from ..operators.dedup import simhash_banded_pairs
    from ..operators.multimodal import perceptual_dhash, sample_frames

    frames = sample_frames(
        synthetic_videos(spark, sf_dir),
        frame_bytes=_IMG_ROWS * _IMG_COLS,
        every_n=_VID_EVERY_N,
    )
    fid = (F.col("doc_id") * _VID_FRAMES + F.col("frame_idx")).alias("doc_id")
    sig = perceptual_dhash(frames.select(fid, F.col("frame").alias("payload")))
    pairs = simhash_banded_pairs(
        sig.withColumnRenamed("phash", "simhash"),
        "doc_id",
        max_hamming=2,
        bits=56,
    )
    # frame-id pair -> video-id pair; fid_l < fid_r implies vid_l <= vid_r,
    # so dropping equal ids leaves ordered video pairs
    vids = (
        pairs.select(
            F.expr(f"id_l div {_VID_FRAMES}").alias("vid_l"),
            F.expr(f"id_r div {_VID_FRAMES}").alias("vid_r"),
        )
        .filter(F.col("vid_l") < F.col("vid_r"))
        .select(F.col("vid_r").alias("doc_id"))
        .distinct()
    )
    phash0 = sig.filter(F.col("doc_id") % _VID_FRAMES == 0).select(
        F.expr(f"doc_id div {_VID_FRAMES}").alias("doc_id"),
        F.col("phash").alias("phash0"),
    )
    return phash0.join(vids, "doc_id", "left_anti").select("doc_id", "phash0")


# ---------------------------------------------------------------------------
# Cross-modal dedup policy matrix: when a corpus carries BOTH a text and an
# image per document (the LAION/caption-dataset shape), the curation
# decision isn't one pair set — it's the agreement structure between the
# per-modality pair sets. This query joins the text near-dup pairs
# (MinHash-LSH -> exact-Jaccard verify, the plans/dedup.py spine) with the
# image near-dup pairs (dHash banded Hamming, above) over the SAME 1-in-5
# doc sample and rolls the union up by detection basis — the telemetry a
# curator reads before choosing an AND (conservative) vs OR (aggressive)
# cross-modal survivor policy.
# ---------------------------------------------------------------------------


def _consensus_oracle() -> str:
    from .dedup import _SQL_NEAR_DUP_PAIRS, SAMPLE_MOD

    return (
        _SQL_NEAR_DUP_PAIRS
        + ",\n    "
        + _img_ph_ctes(where=f"WHERE doc_id % {SAMPLE_MOD} = 0")
        + """,
    img AS (
        SELECT l.doc_id AS id_l, r.doc_id AS id_r
        FROM ph l JOIN ph r
          ON l.doc_id < r.doc_id
         AND bit_count(xor(l.phash, r.phash)) <= 2
    )
    SELECT CASE WHEN t.id_l IS NOT NULL AND i.id_l IS NOT NULL THEN 'both'
                WHEN t.id_l IS NOT NULL THEN 'text_only'
                ELSE 'image_only' END AS dup_basis,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT coalesce(t.id_r, i.id_r)) AS BIGINT) AS n_docs_dropped
    FROM verified t FULL OUTER JOIN img i ON t.id_l = i.id_l AND t.id_r = i.id_r
    GROUP BY 1
    """
    )


@register(
    "multimodal_dedup_policy_matrix",
    oracle=_consensus_oracle(),
    doc="[ext] cross-modal dedup policy matrix — the agreement telemetry "
    "between the TEXT near-dup pair set (MinHash-LSH -> exact-Jaccard "
    ">= 0.5 verify) and the IMAGE near-dup pair set (56-bit dHash, banded "
    "Hamming h<=2) over the same doc sample: per detection basis "
    "(both / text_only / image_only), how many pairs fired and how many "
    "docs a lowest-id survivor policy would drop. The read a curator "
    "needs before choosing AND- vs OR-consensus cross-modal dedup.",
)
def multimodal_dedup_policy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both inputs are the already-linear pair relations (bucketed
    LSH and banded Hamming — never all-pairs), and the consensus is a
    full-outer equi-join ON THE PAIR KEYS, so it shuffles pair rows, not
    corpus rows; the rollup is a 3-row aggregate. At 100 TB the two pair
    sets co-partition on (id_l, id_r) and the join is shuffle-local."""
    from ..operators.dedup import simhash_banded_pairs
    from ..operators.multimodal import perceptual_dhash
    from .dedup import SAMPLE_MOD, minhash_dedup_verified

    tx = minhash_dedup_verified(spark, sf_dir).select(
        "id_l", "id_r", F.lit(True).alias("is_text")
    )
    sig = perceptual_dhash(synthetic_images(spark, sf_dir)).filter(
        F.col("doc_id") % SAMPLE_MOD == 0
    )
    img = simhash_banded_pairs(
        sig.withColumnRenamed("phash", "simhash"), "doc_id", max_hamming=2, bits=56
    ).select("id_l", "id_r", F.lit(True).alias("is_img"))
    cells = tx.join(img, ["id_l", "id_r"], "full_outer")
    basis = (
        F.when(F.col("is_text").isNotNull() & F.col("is_img").isNotNull(), "both")
        .when(F.col("is_text").isNotNull(), "text_only")
        .otherwise("image_only")
    )
    return (
        cells.groupBy(basis.alias("dup_basis"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("id_r").alias("n_docs_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Audio fingerprint alignment (Wang 2003, the Shazam construction): the
# THIRD multimodal matching contract, genuinely different from the image/
# video Hamming pairing — per-window robust hashes match EXACTLY, and two
# clips link only when >= _AUD_MIN_ALIGNED window matches agree on ONE
# temporal offset (the offset-delta histogram vote). Random hash
# collisions scatter across offsets and never accumulate a consistent
# delta, which is why exact-hash + alignment voting needs no Hamming
# tolerance at all.
#
# Synthetic clips (r10: frequency-shaped): each group of 8 docs shares an
# 8-window "master track"; master window wm of group g is 32 samples of
# 16-bit PCM synthesized from THREE md5-seeded tones on the shared
# integer DCT basis plus a +-2 per-sample md5 noise floor:
#
#   x[n] = a1*C[k1][n] + a2*C[k2][n] + a3*C[k3][n] + nu[n]
#   k1 in 1..10, k2 in 11..20, k3 in 21..30 and a_i in 1..4 from the hex
#   bytes of md5('aud:<g>:<wm>'); nu[n] = (hexdigit_n of
#   md5('aud-noise:<g>:<wm>')) % 5 - 2.
#
# The feature-extract stage (operators.multimodal.audio_spectral_frames)
# then runs the EXACT-INTEGER DCT-II over each window, so the hashed
# bytes are a genuine spectrum — tone peaks at k1/k2/k3 over a noise
# floor — not opaque digest bytes; the noise floor is what keeps window
# fingerprints corpus-unique (the tone/amp space alone is ~2k combos,
# the per-sample noise adds 16^32). A real deployment swaps the synth
# for decoded PCM and the integer DCT for an FFT behind the same two
# mapInPandas crossings. Clip doc_id takes the 6-window slice starting
# at shift (doc_id % 8) % 3, so intra-group pairs overlap in
# 6 - |s_l - s_r| >= 4 windows at the single consistent delta s_r - s_l
# — planted alignments the vote must recover.
# ---------------------------------------------------------------------------

_AUD_WINDOWS = 6  # windows per clip — FIXED, never corpus-tracking
_AUD_SHIFTS = 3  # distinct slice starts within a group's master track
_AUD_MIN_ALIGNED = 3  # votes needed on one offset to link two clips
_AUD_PCM_BYTES = 2 * AUDIO_DCT_N  # 64: one window of big-endian uint16 PCM


def synthetic_audio_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One 384-byte PCM payload per document: 6 windows x 32 big-endian
    offset-binary uint16 samples (sample = x + 32768), window f of clip
    doc_id = master window f + (doc_id % 8) % 3 of group doc_id div 8,
    synthesized per the module-comment tone+noise recipe. The synth is
    the deterministic storage-layer stand-in (what decoding the stored
    clip would yield), Arrow-batched and map-only."""
    docs = load_table(spark, sf_dir, "documents")
    n = AUDIO_DCT_N
    basis_flat = list(AUDIO_DCT_BASIS)
    windows, shifts, group = _AUD_WINDOWS, _AUD_SHIFTS, _IMG_GROUP

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        basis = _np.array(basis_flat, dtype=_np.int64).reshape(n, n)

        def master_window(g: int, wm: int) -> bytes:
            h1 = _hashlib.md5(f"aud:{g}:{wm}".encode()).hexdigest()
            h2 = _hashlib.md5(f"aud-noise:{g}:{wm}".encode()).hexdigest()
            b = [int(h1[2 * i : 2 * i + 2], 16) for i in range(6)]
            k = (1 + b[0] % 10, 11 + b[1] % 10, 21 + b[2] % 10)
            a = (1 + b[3] % 4, 1 + b[4] % 4, 1 + b[5] % 4)
            nu = _np.array([int(d, 16) % 5 - 2 for d in h2], dtype=_np.int64)
            x = a[0] * basis[k[0]] + a[1] * basis[k[1]] + a[2] * basis[k[2]] + nu
            return (x + 32768).astype(">u2").tobytes()

        # memoize per partition: a group's 8 master windows serve all 8
        # member clips (and partitioning below keeps groups co-located)
        cache: dict[tuple[int, int], bytes] = {}

        def mw(g: int, wm: int) -> bytes:
            key = (g, wm)
            got = cache.get(key)
            if got is None:
                got = cache[key] = master_window(g, wm)
            return got

        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for doc_id in batch["doc_id"]:
                g, s = int(doc_id) // group, (int(doc_id) % group) % shifts
                payloads.append(b"".join(mw(g, f + s) for f in range(windows)))
            yield _pd.DataFrame({"doc_id": batch["doc_id"], "payload": payloads})

    # Fixture-only repartition: the sf0.1 parquet is one ~5k-row split, so
    # without this the whole synth chain runs on ONE core. Partitioning on
    # the GROUP id spreads work across executors while keeping each
    # group's clips together (so the memo above still deduplicates the
    # master-window synth). Real clips arrive pre-partitioned from the
    # storage layer; only 8-byte doc_ids shuffle here, never payloads.
    return (
        docs.select("doc_id")
        .repartition(
            spark.sparkContext.defaultParallelism,
            F.expr(f"doc_id div {group}"),
        )
        .mapInPandas(gen, schema="doc_id long, payload binary")
    )


def _aud_hexbyte(h: str, i: int) -> str:
    """DuckDB SQL for hex byte ``i`` of an md5 hex-string expression."""
    hi = f"(strpos('0123456789abcdef', substr({h}, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({h}, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _aud_oracle() -> str:
    """The identical synth -> integer-DCT -> dHash chain in generated
    DuckDB SQL: per distinct master window, the 3-tone + noise waveform
    and its exact-integer spectrum (nested list lambdas over the shared
    basis literal); per (doc, window), the dHash over the 64 spectrum
    bytes; then exact-equality matching and the offset histogram with the
    >= _AUD_MIN_ALIGNED consistency vote."""
    n = AUDIO_DCT_N
    frames = ", ".join(f"({f})" for f in range(_AUD_WINDOWS))
    cb = "[" + ",".join(str(v) for v in AUDIO_DCT_BASIS) + "]"
    tone = " + ".join(f"a{i} * cb[k{i} * {n} + n + 1]" for i in (1, 2, 3))
    noise = (
        f"((strpos('0123456789abcdef', substr(h2, CAST(n AS INT) + 1, 1)) - 1)"
        f" % 5 - 2)"
    )

    def byte(j: int) -> str:
        return f"(u[{j // 2 + 1}] >> 8)" if j % 2 == 0 else f"(u[{j // 2 + 1}] % 256)"

    phash = " + ".join(
        f"CASE WHEN {byte(r * _IMG_COLS + c)} > {byte(r * _IMG_COLS + c + 1)} "
        f"THEN {1 << (r * (_IMG_COLS - 1) + c)} ELSE 0 END"
        for r in range(_IMG_ROWS)
        for c in range(_IMG_COLS - 1)
    )
    return f"""
    WITH basis AS (SELECT {cb} AS cb),
    d AS (
        SELECT doc_id, doc_id // {_IMG_GROUP} AS g,
               (doc_id % {_IMG_GROUP}) % {_AUD_SHIFTS} AS s
        FROM documents
    ),
    w AS (
        SELECT doc_id, g, f, f + s AS wm
        FROM d CROSS JOIN (VALUES {frames}) AS fr(f)
    ),
    par AS (
        SELECT g, wm, h2,
               1 + {_aud_hexbyte('h1', 0)} % 10 AS k1,
               11 + {_aud_hexbyte('h1', 1)} % 10 AS k2,
               21 + {_aud_hexbyte('h1', 2)} % 10 AS k3,
               1 + {_aud_hexbyte('h1', 3)} % 4 AS a1,
               1 + {_aud_hexbyte('h1', 4)} % 4 AS a2,
               1 + {_aud_hexbyte('h1', 5)} % 4 AS a3
        FROM (SELECT DISTINCT g, wm FROM w),
             LATERAL (SELECT md5('aud:' || g || ':' || wm) AS h1,
                             md5('aud-noise:' || g || ':' || wm) AS h2)
    ),
    spec AS (
        SELECT g, wm,
               list_transform(range(0, {n}), k ->
                   (list_sum(list_transform(range(0, {n}), n ->
                       ({tone} + {noise}) * cb[k * {n} + n + 1]))
                    + {AUDIO_SPEC_OFFSET}) >> {AUDIO_SPEC_SHIFT}) AS u
        FROM par CROSS JOIN basis
    ),
    ph AS (
        SELECT w.doc_id, w.f, CAST({phash} AS BIGINT) AS phash
        FROM w JOIN spec ON spec.g = w.g AND spec.wm = w.wm
    )
    SELECT l.doc_id AS id_l, r.doc_id AS id_r,
           CAST(l.f - r.f AS BIGINT) AS t_offset,
           CAST(count(*) AS BIGINT) AS n_aligned
    FROM ph l JOIN ph r ON l.phash = r.phash AND l.doc_id < r.doc_id
    GROUP BY 1, 2, 3
    HAVING count(*) >= {_AUD_MIN_ALIGNED}
    """


@register(
    "audio_fingerprint_align_pairs",
    oracle=_aud_oracle(),
    doc="[ext] AUDIO fingerprint matching (Wang 2003 constellation "
    "alignment): per-window 56-bit robust hashes over frame-sampled clip "
    "payloads match by EXACT equality, and two clips pair only when >= 3 "
    "window matches agree on one temporal offset — the offset-delta "
    "histogram vote that makes random collisions harmless without any "
    "Hamming tolerance. Emits (id_l, id_r, offset, n_aligned) per "
    "consistently-aligned clip pair.",
)
def audio_fingerprint_align_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: PCM windowing + the integer-DCT spectral transform + window
    hashing are the same single map-only chain as the image/video paths
    (clip bytes never shuffle; 16 B per window moves after hashing);
    matching is an equi-join ON THE 56-BIT HASH VALUE — candidates are
    planted structure plus ~m^2/2^56 noise, strictly tighter than the
    banded-Hamming geometry because alignment voting tolerates zero hash
    error; the vote is one groupBy on (pair, offset) over match rows.
    Window count and group size are FIXED — pair work grows linearly."""
    from ..operators.multimodal import (
        audio_spectral_frames,
        perceptual_dhash,
        sample_frames,
    )

    frames = sample_frames(
        synthetic_audio_clips(spark, sf_dir),
        frame_bytes=_AUD_PCM_BYTES,
        every_n=1,
    )
    spectral = audio_spectral_frames(frames)
    fid = (F.col("doc_id") * _AUD_WINDOWS + F.col("frame_idx")).alias("doc_id")
    sig = perceptual_dhash(spectral.select(fid, F.col("frame").alias("payload")))
    w = sig.select(
        F.expr(f"doc_id div {_AUD_WINDOWS}").alias("vid"),
        (F.col("doc_id") % _AUD_WINDOWS).alias("f"),
        "phash",
    )
    lhs = w.select(
        F.col("vid").alias("id_l"), F.col("f").alias("f_l"), "phash"
    )
    rhs = w.select(
        F.col("vid").alias("id_r"), F.col("f").alias("f_r"), "phash"
    )
    matches = lhs.join(rhs, "phash").filter(F.col("id_l") < F.col("id_r"))
    return (
        matches.groupBy(
            "id_l", "id_r", (F.col("f_l") - F.col("f_r")).cast("long").alias("t_offset")
        )
        .agg(F.count("*").alias("n_aligned"))
        .filter(F.col("n_aligned") >= _AUD_MIN_ALIGNED)
    )
