"""Multimodal binary-column operators: decode, metadata, phash, PSNR parity.

The reference's stage-3 content handlers decode fetched image bytes with PIL
to extract width/height/format/EXIF and thumbnails
(``Scraping_project/src/stage3/content_handlers.py:206-263,329-340``) and
perceptually hash media (``media_extraction.py:93-196``). Spark-first
mapping: images are opaque ``binary`` columns with typed metadata; decode /
feature-extract run as Arrow-batched ``mapInPandas``. All four accepted
image formats decode for REAL via the from-scratch codecs
(functions/imagefn PNG, jpegfn, giffn, webpfn VP8L); only genuinely
library-bound formats (e.g. tiff, lossy-VP8 webp) surface as labeled
NotImplementedError rows — data, never task failures.

At 100 TB the invariants here matter more than the codec: bytes enter the
UDF via Arrow record batches (no per-row Python at the API), outputs are
narrow typed columns, and the wide binary column is dropped as early as the
plan allows (project-only-what-you-need).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.imagefn import decode_image, phash64, psnr

IMAGE_META_SCHEMA = (
    "image_id string, decoded_w int, decoded_h int, decoded_phash long, "
    "decode_ok boolean, decode_error string"
)


def extract_image_meta(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt) -> decoded metadata; mapInPandas over Arrow
    batches. Rows whose codec is unavailable get decode_ok=false with the
    error recorded (never a task failure — bad bytes are data, not bugs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                rec = {
                    "image_id": row.image_id,
                    "decoded_w": None,
                    "decoded_h": None,
                    "decoded_phash": None,
                    "decode_ok": False,
                    "decode_error": None,
                }
                try:
                    px = decode_image(bytes(row.bytes), row.fmt)
                    rec.update(
                        decoded_w=int(px.shape[1]),
                        decoded_h=int(px.shape[0]),
                        decoded_phash=phash64(px),
                        decode_ok=True,
                    )
                except (NotImplementedError, ValueError) as e:
                    rec["decode_error"] = f"{type(e).__name__}: {e}"
                out.append(rec)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, schema=IMAGE_META_SCHEMA
    )


PSNR_SCHEMA = "image_id string, psnr double, pixel_exact boolean"


def psnr_parity(ours: DataFrame, reference: DataFrame) -> DataFrame:
    """Row-level parity join (J8, SURVEY §2.4): decode both sides' bytes and
    report PSNR (>= 40 dB gate; +inf == pixel-exact). Join on image_id keys
    first, bytes re-attached only inside the Arrow batch."""
    from pyspark.sql import functions as F

    a = ours.select(
        "image_id", F.col("bytes").alias("bytes_a"), F.col("fmt").alias("fmt")
    )
    b = reference.select("image_id", F.col("bytes").alias("bytes_b"))
    joined = a.join(b, "image_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                pa_ = decode_image(bytes(row.bytes_a), row.fmt)
                pb = decode_image(bytes(row.bytes_b), row.fmt)
                v = psnr(pa_, pb)
                out.append(
                    {
                        "image_id": row.image_id,
                        "psnr": float(v) if v != float("inf") else float("inf"),
                        "pixel_exact": v == float("inf"),
                    }
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(run, schema=PSNR_SCHEMA)


def phash_bands(
    meta: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    n_bands: int = 4,
) -> DataFrame:
    """Unpivot a 64-bit perceptual hash into ``n_bands`` equal bit-bands —
    the simhash banding trick applied to images: two hashes within hamming
    distance h < n_bands MUST agree on at least one band (pigeonhole), so a
    band-equi self-join has complete recall for that radius. Arithmetic
    shift + mask keeps each band a small non-negative int regardless of the
    phash sign bit."""
    assert 64 % n_bands == 0, n_bands
    width = 64 // n_bands
    mask = (1 << width) - 1
    arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.expr(f"shiftright({phash_col}, {i * width}) & {mask}").alias(
                    "band_val"
                ),
            )
            for i in range(n_bands)
        ]
    )
    return meta.select(
        F.col(id_col).alias("image_id"),
        F.col(phash_col).alias("phash"),
        F.explode(arr).alias("b"),
    ).select("image_id", "phash", "b.band_idx", "b.band_val")


def banded_hamming_pairs(
    meta: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
    materialize: bool = True,
    max_band_freq: int | None = None,
) -> DataFrame:
    """The shared banded-hamming kernel: band-equi candidate join over
    ``phash_bands`` then the EXACT ``bit_count(a ^ b)`` verify — ONE
    implementation serving still images (phash_neardup_pairs) and the
    simhash text twin (entry_queries dedup_simhash_pairs).

    Output: (image_a, image_b, hamming), one row per verified pair. The hamming filter runs BEFORE the distinct
    (identical result — the predicate is a pure function of the row — but
    the distinct then shuffles only survivors, and most band collisions
    fail the verify). Recall is complete for ``max_hamming < n_bands``
    (pigeonhole, asserted). ``max_band_freq`` drops hot band buckets
    before the join (cap_posting_lists on (band_idx, band_val)): a pair's
    recall then rests on its remaining shared bands — the standard
    hot-bucket trade, and a truly hot phash region is near-constant
    imagery carrying no dedup signal. The band table feeds both join
    sides, so it takes a lineage cut."""
    assert max_hamming < n_bands, (max_hamming, n_bands)
    from ..plans.materialize import materialize as _cut

    bands = phash_bands(meta, id_col=id_col, phash_col=phash_col, n_bands=n_bands)
    if max_band_freq is not None:
        from .neardup import cap_posting_lists

        if materialize:
            bands = _cut(bands, name="phash-bands-raw")
        bands = cap_posting_lists(
            bands, max_band_freq, keys=["band_idx", "band_val"]
        )
    if materialize:
        bands = _cut(bands, name="phash-bands")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.image_id") < F.col("b.image_id")),
        )
        .select(
            F.col("a.image_id").alias("image_a"),
            F.col("b.image_id").alias("image_b"),
            F.expr("bit_count(a.phash ^ b.phash)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may agree on several bands
    )


def phash_neardup_pairs(
    meta: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
    materialize: bool = True,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Perceptual near-duplicate image pairs — the image twin of
    dedup_simhash (media_extraction.py:93-196 computes the hash; the
    reference never pairs them — training-data-pipeline surface this
    engine adds). Thin wrapper over ``banded_hamming_pairs``; see its
    docstring for the scale shape and the hot-band cap."""
    return banded_hamming_pairs(
        meta,
        max_hamming=max_hamming,
        n_bands=n_bands,
        id_col=id_col,
        phash_col=phash_col,
        materialize=materialize,
        max_band_freq=max_band_freq,
    )


def phash_components(
    pairs: DataFrame, all_ids: DataFrame | None = None, iterations: int = 4
) -> DataFrame:
    """Connected components over VERIFIED near-dup pairs (not band buckets —
    a bucket can hold hamming-distant hashes; components over raw buckets
    would merge them). Each pair is a 2-member bucket, which makes the pair
    graph a bipartite bucket graph — so the linear min-label fixpoint
    (neardup.minhash_components: two linear aggs per iteration, never a
    self-join) applies verbatim. ``all_ids`` (one ``image_id`` per row)
    re-attaches singleton images as their own component.

    ``iterations`` bounds the chain diameter that fully collapses (one
    bucket-hop per iteration) — raise it for long thumbnail-series chains
    (the imagedup CLI exposes ``--iterations``). The bucket key is
    length-prefixed (``len(image_a):image_a:image_b``) so ids containing
    the separator — image_ids are raw URLs in the crawl path — can never
    make two distinct pairs collide into one bucket."""
    from .neardup import minhash_components

    bucket = F.concat_ws(
        ":", F.length("image_a").cast("string"), F.col("image_a"), F.col("image_b")
    )
    bands = pairs.select(
        F.col("image_a").alias("doc_id"), bucket.alias("bv")
    ).unionByName(pairs.select(F.col("image_b").alias("doc_id"), bucket.alias("bv")))
    comp = minhash_components(bands, iterations=iterations).select(
        F.col("doc_id").alias("image_id"), "component_id"
    )
    if all_ids is None:
        return comp
    return all_ids.select("image_id").join(comp, "image_id", "left").select(
        "image_id",
        F.coalesce(F.col("component_id"), F.col("image_id")).alias("component_id"),
    )


EXIF_SCRUB_SCHEMA = (
    "image_id string, had_metadata boolean, exif_make string, "
    "exif_model string, exif_orientation int, exif_datetime string, "
    "has_gps boolean, gps_lat_milli long, gps_lon_milli long, "
    "n_bytes_before long, n_bytes_after long, scrubbed binary"
)


def exif_scrub_images(images: DataFrame) -> DataFrame:
    """EXIF extract + metadata scrub (the LAION privacy step; the reference
    reads EXIF via PIL in content_handlers.py:206-263): per image, parse
    the APP1/TIFF tree for the pipeline-relevant fields (orientation for
    correct display, capture time for freshness, GPS = geo-PII), then
    splice every APPn>0/COM segment out of the container. The scrub never
    touches entropy-coded data, so decoded pixels are bit-identical —
    re-encoding here would be silent generation loss at corpus scale.

    Arrow-batched mapInPandas at scan parallelism; bytes enter once and
    leave once (scrubbed) — downstream readers of the metadata columns
    must select them WITHOUT the scrubbed column (bytes discipline).
    Non-JPEG formats pass through unchanged with had_metadata=false (the
    PNG/GIF/WebP synth corpus carries no metadata segments)."""
    from ..functions.exiffn import extract_jpeg_exif, strip_jpeg_metadata

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.bytes)
                rec = {
                    "image_id": row.image_id,
                    "had_metadata": False,
                    "exif_make": None,
                    "exif_model": None,
                    "exif_orientation": None,
                    "exif_datetime": None,
                    "has_gps": False,
                    "gps_lat_milli": None,
                    "gps_lon_milli": None,
                    "n_bytes_before": len(data),
                    "n_bytes_after": len(data),
                    "scrubbed": data,
                }
                if row.fmt in ("jpeg", "jpg"):
                    meta = extract_jpeg_exif(data)
                    scrubbed = strip_jpeg_metadata(data)
                    if meta is not None:
                        rec.update(
                            exif_make=meta["make"],
                            exif_model=meta["model"],
                            exif_orientation=meta["orientation"],
                            exif_datetime=meta["datetime"],
                            has_gps=bool(meta["has_gps"]),
                        )
                        if meta["gps_lat"] is not None:
                            rec["gps_lat_milli"] = round(meta["gps_lat"] * 1000)
                        if meta["gps_lon"] is not None:
                            rec["gps_lon_milli"] = round(meta["gps_lon"] * 1000)
                    if scrubbed != data:
                        rec.update(
                            had_metadata=True,
                            n_bytes_after=len(scrubbed),
                            scrubbed=scrubbed,
                        )
                out.append(rec)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, schema=EXIF_SCRUB_SCHEMA
    )


JPEG_QUALITY_SCHEMA = (
    "image_id string, jpeg_quality int, jpeg_quality_exact boolean"
)


def jpeg_quality_meta(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt) -> estimated IJG quality factor for JPEG
    rows (jpegfn.estimate_jpeg_quality: header-only DQT inversion — never
    touches entropy data), NULL for other formats. Arrow-batched
    mapInPandas at scan parallelism, bytes read once and never shuffled —
    the metadata feeds the admission funnel's ``min_jpeg_quality`` arm so
    the funnel itself stays bytes-free."""
    from ..functions.jpegfn import estimate_jpeg_quality

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                q, exact = (None, None)
                if row.fmt == "jpeg" and row.bytes is not None:
                    q, exact = estimate_jpeg_quality(bytes(row.bytes))
                out.append(
                    {
                        "image_id": row.image_id,
                        "jpeg_quality": q,
                        "jpeg_quality_exact": exact,
                    }
                )
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, schema=JPEG_QUALITY_SCHEMA
    )


def image_caption_filter(
    images: DataFrame,
    *,
    min_side: int = 32,
    max_aspect: int = 4,
    min_caption_tokens: int = 2,
    max_caption_tokens: int = 64,
    max_caption_freq: int = 2,
    drop_neardups: bool = False,
    neardup_max_hamming: int = 3,
    min_jpeg_quality: int | None = None,
    quality: DataFrame | None = None,
) -> DataFrame:
    """LAION/DataComp-style image+caption admission funnel over the
    input_hint table (image_id, bytes, w, h, fmt, caption, phash): per
    image, boolean drop reasons + the final ``keep`` conjunction.

    Reasons (each a public multimodal-curation rule):
      - ``too_small``      min(w, h) < min_side (thumbnails/tracking pixels)
      - ``bad_aspect``     max(w, h) > max_aspect * min(w, h) (banners)
      - ``caption_short``  < min_caption_tokens whitespace tokens
      - ``caption_long``   > max_caption_tokens (SEO keyword stuffing)
      - ``dup_caption``    caption shared by > max_caption_freq images
                           (boilerplate alt text carries no signal)
      - ``dup_phash``      exact perceptual duplicate (same phash, >1 image;
                           near-dup handled separately by phash_neardup_*)
      - ``dup_neardup``    opt-in (``drop_neardups=True``): image sits in a
                           banded-hamming near-dup component (1..3 flipped
                           phash bits — re-encodes, light crops) and is not
                           the component's elected keeper. LAION practice
                           drops these alongside exact dups.
      - ``low_quality``    opt-in (``min_jpeg_quality=N`` + a precomputed
                           ``quality`` table from :func:`jpeg_quality_meta`):
                           JPEG whose estimated IJG quality factor is below
                           N (heavily re-compressed imagery). The quality
                           table is REQUIRED when the threshold is set —
                           the funnel itself never reads bytes.

    Near-dup arm shape: the kernel runs over DISTINCT phash values, not
    images (exact-dup groups collapse to one node first, so a hot re-upload
    can never explode the band join), pairs collapse via the linear
    min-label fixpoint (phash_components), and the keeper is the MIN
    image_id among the component's members — deterministic, no window over
    images. The fixpoint's bounded iterations fully collapse chains up to
    2^iterations bucket-hops (imageops.phash_components docstring); longer
    chains split and keep one image per fragment — fail-safe toward
    keeping. Quality-aware election (the doc-cluster retention pattern,
    entry_queries quality_cluster_retention) composes on top by re-joining
    components; the funnel keeps the admission decision content-only.

    Scale shape: pure column expressions plus TWO key-grouped aggregates
    (caption frequency, phash frequency) joined back on their keys —
    map-side partial combine, AQE broadcasts the count sides while small;
    never touches the bytes column (metadata-only admission, bytes
    discipline). Linear in images; no window, no UDF."""
    # NULL caption (real-HTTP images without alt text) reads as the empty
    # caption: 0 tokens -> caption_short drop, and all captionless images
    # share one frequency group — never a -1 from size(NULL)
    cap = F.coalesce(F.col("caption"), F.lit(""))
    toks = F.size(F.filter(F.split(cap, " "), lambda t: t != F.lit("")))
    base = images.select(
        "image_id", "w", "h", "fmt", "phash",
        cap.alias("caption"),
        toks.alias("caption_tokens"),
    )
    cap_n = base.groupBy("caption").agg(F.count("*").alias("n_same_caption"))
    # NULL phash (failed decode rows in a metadata parquet) is UNKNOWN
    # content, not a duplicate group: a null-unsafe inner join would drop
    # the row entirely; left-join + coalesce keeps it as a singleton
    ph_n = base.filter(F.col("phash").isNotNull()).groupBy("phash").agg(
        F.count("*").alias("n_same_phash")
    )
    j = (
        base.join(cap_n, "caption")
        .join(ph_n, "phash", "left")
        .withColumn("n_same_phash", F.coalesce("n_same_phash", F.lit(1)))
    )
    if drop_neardups:
        # kernel over distinct phashes: id = the phash itself (stringified
        # for the component labels), so hamming-0 exact dups are one node
        ph_nodes = (
            base.filter(F.col("phash").isNotNull())
            # long cast: input_hint pins int64, but a pandas-built metadata
            # parquet with missing phashes arrives float64 — banding needs
            # integral bits (exact: phash doubles are integral by contract)
            .select(F.col("phash").cast("long").alias("phash"))
            .distinct()
            .select(F.col("phash").cast("string").alias("image_id"), "phash")
        )
        pairs = phash_neardup_pairs(ph_nodes, max_hamming=neardup_max_hamming)
        comp = phash_components(pairs).select(
            F.col("image_id").cast("long").alias("phash"), "component_id"
        )
        # members: only phashes appearing in >=1 verified pair (every
        # component therefore spans >=2 distinct phashes by construction)
        members = (
            base.select("image_id", "phash").join(comp, "phash")
        )
        winners = members.groupBy("component_id").agg(
            F.min("image_id").alias("nd_keeper")
        )
        nd = members.join(winners, "component_id").select(
            "image_id",
            (F.col("image_id") != F.col("nd_keeper")).alias("dup_neardup"),
        )
        j = j.join(nd, "image_id", "left").withColumn(
            "dup_neardup", F.coalesce("dup_neardup", F.lit(False))
        )
    else:
        j = j.withColumn("dup_neardup", F.lit(False))
    if min_jpeg_quality is not None:
        if quality is None:
            raise ValueError(
                "min_jpeg_quality requires a precomputed quality table "
                "(jpeg_quality_meta) — the funnel never reads bytes"
            )
        j = j.join(
            quality.select("image_id", "jpeg_quality"), "image_id", "left"
        ).withColumn(
            "low_quality",
            F.coalesce(
                F.col("jpeg_quality") < F.lit(min_jpeg_quality), F.lit(False)
            ),
        )
    else:
        j = j.withColumn("low_quality", F.lit(False))
    too_small = F.least("w", "h") < min_side
    bad_aspect = F.greatest("w", "h") > max_aspect * F.least("w", "h")
    cap_short = F.col("caption_tokens") < min_caption_tokens
    cap_long = F.col("caption_tokens") > max_caption_tokens
    dup_caption = F.col("n_same_caption") > max_caption_freq
    dup_phash = F.col("n_same_phash") > 1
    dup_neardup = F.col("dup_neardup")
    low_quality = F.col("low_quality")
    keep = ~(too_small | bad_aspect | cap_short | cap_long | dup_caption
             | dup_phash | dup_neardup | low_quality)
    return j.select(
        "image_id", "w", "h", "fmt", "caption_tokens",
        "n_same_caption", "n_same_phash",
        too_small.alias("too_small"),
        bad_aspect.alias("bad_aspect"),
        cap_short.alias("caption_short"),
        cap_long.alias("caption_long"),
        dup_caption.alias("dup_caption"),
        dup_phash.alias("dup_phash"),
        "dup_neardup",
        "low_quality",
        keep.alias("keep"),
    )


def py_image_caption_filter(rows, **kw) -> list[dict]:
    """Sequential python twin of :func:`image_caption_filter` (same knobs,
    same reason order) for brute-force test parity. The near-dup arm pairs
    distinct phashes by brute-force hamming — equal to the banded kernel
    for ``neardup_max_hamming < 4`` (pigeonhole-complete recall) — and
    collapses with full union-find: equality with the Spark fixpoint holds
    while chains are shorter than its 2^iterations collapse diameter (all
    test fixtures; the split-chain regime keeps MORE on the Spark side)."""
    p = dict(min_side=32, max_aspect=4, min_caption_tokens=2,
             max_caption_tokens=64, max_caption_freq=2,
             drop_neardups=False, neardup_max_hamming=3,
             min_jpeg_quality=None)
    p.update(kw)
    from collections import Counter

    cap_n = Counter((r["caption"] or "") for r in rows)
    ph_n = Counter(r["phash"] for r in rows if r["phash"] is not None)
    nd_drop: set = set()
    if p["drop_neardups"]:
        phs = sorted({r["phash"] for r in rows if r["phash"] is not None})
        parent = {x: x for x in phs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        paired = set()
        for i, a in enumerate(phs):
            for b in phs[i + 1:]:
                h = bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
                if 0 < h <= p["neardup_max_hamming"]:
                    parent[find(a)] = find(b)
                    paired.update((a, b))
        comps: dict = {}
        for r in rows:
            if r["phash"] in paired:
                comps.setdefault(find(r["phash"]), []).append(r["image_id"])
        for ids in comps.values():
            keeper = min(ids)
            nd_drop.update(i for i in ids if i != keeper)
    out = []
    for r in rows:
        caption = r["caption"] or ""
        toks = len([t for t in caption.split(" ") if t != ""])
        too_small = min(r["w"], r["h"]) < p["min_side"]
        bad_aspect = max(r["w"], r["h"]) > p["max_aspect"] * min(r["w"], r["h"])
        cap_short = toks < p["min_caption_tokens"]
        cap_long = toks > p["max_caption_tokens"]
        dup_caption = cap_n[caption] > p["max_caption_freq"]
        dup_phash = (r["phash"] is not None) and ph_n[r["phash"]] > 1
        dup_neardup = r["image_id"] in nd_drop
        low_quality = (
            p["min_jpeg_quality"] is not None
            and r.get("jpeg_quality") is not None
            and r["jpeg_quality"] < p["min_jpeg_quality"]
        )
        out.append(
            {
                "image_id": r["image_id"],
                "caption_tokens": toks,
                "too_small": too_small,
                "bad_aspect": bad_aspect,
                "caption_short": cap_short,
                "caption_long": cap_long,
                "dup_caption": dup_caption,
                "dup_phash": dup_phash,
                "dup_neardup": dup_neardup,
                "low_quality": low_quality,
                "keep": not (too_small or bad_aspect or cap_short or cap_long
                             or dup_caption or dup_phash or dup_neardup
                             or low_quality),
            }
        )
    return out


# SDXL-style aspect ladder: landscape/portrait mirror pairs around square,
# all heights multiples of 64 (the common latent-grid constraint). lcm of
# heights stays < 2^21, so the exact integer compare below fits a long.
ASPECT_LADDER: tuple[tuple[int, int], ...] = (
    (512, 512),
    (576, 448), (448, 576),
    (640, 384), (384, 640),
    (704, 320), (320, 704),
)


def aspect_bucket_assign(
    images: DataFrame, ladder: tuple[tuple[int, int], ...] = ASPECT_LADDER
) -> DataFrame:
    """Aspect-ratio bucketing (NovelAI/SDXL training practice: batch images
    of similar aspect so per-batch resize-crop waste is minimal): assign
    each image to the ladder bucket minimizing |w/h - bw/bh|, EXACTLY —
    the rational distance |w*bh - h*bw| / (h*bh) is compared across
    buckets by multiplying through lcm(all bh) (h cancels; constants fold
    at plan build), so the argmin is pure bigint arithmetic, no float
    log-aspect approximations to drift between engines. Ties break to the
    earlier ladder entry.

    Scale shape: one array_min over a 7-struct literal array per row —
    pure column expressions, zero shuffle, zero UDF; the occupancy rollup
    (:func:`aspect_bucket_stats`) is one hash groupBy on the bucket key.

    Output: (image_id, w, h, bucket_w, bucket_h)."""
    best = _bucket_argmin_expr(ladder)
    return images.select(
        "image_id", "w", "h",
        best["bucket_w"].alias("bucket_w"),
        best["bucket_h"].alias("bucket_h"),
    )


def _bucket_argmin_expr(ladder: tuple[tuple[int, int], ...]):
    """The exact-bigint ladder argmin as a struct column over input columns
    ``w``/``h`` — ONE definition for assignment and the resize prep (so the
    two can never disagree on which bucket an image belongs to)."""
    import math

    lads = list(ladder)
    lcm_h = math.lcm(*[bh for _, bh in lads])
    entries = F.array(
        *[
            F.struct(
                (
                    F.abs(
                        F.col("w").cast("long") * bh
                        - F.col("h").cast("long") * bw
                    )
                    * (lcm_h // bh)
                ).alias("k"),
                F.lit(i).alias("i"),
                F.lit(bw).alias("bucket_w"),
                F.lit(bh).alias("bucket_h"),
            )
            for i, (bw, bh) in enumerate(lads)
        ]
    )
    return F.array_min(entries)


def aspect_bucket_stats(assigned: DataFrame) -> DataFrame:
    """Bucket occupancy + mean upscale need: per ladder bucket, image
    count and the count whose source resolution is below the bucket target
    on either axis (those pay an upscale at train time — the knob for
    pruning a starved bucket). One hash groupBy, bucket-cardinality rows."""
    return assigned.groupBy("bucket_w", "bucket_h").agg(
        F.count("*").alias("n_images"),
        F.sum(
            (
                (F.col("w") < F.col("bucket_w"))
                | (F.col("h") < F.col("bucket_h"))
            ).cast("long")
        ).alias("n_upscaled"),
    )


def py_aspect_bucket_assign(rows, ladder=ASPECT_LADDER) -> list[dict]:
    """Sequential twin of :func:`aspect_bucket_assign` on exact fractions."""
    from fractions import Fraction

    out = []
    for r in rows:
        best = min(
            range(len(ladder)),
            key=lambda i: (
                abs(
                    Fraction(r["w"], r["h"])
                    - Fraction(ladder[i][0], ladder[i][1])
                ),
                i,
            ),
        )
        out.append(
            {
                "image_id": r["image_id"], "w": r["w"], "h": r["h"],
                "bucket_w": ladder[best][0], "bucket_h": ladder[best][1],
            }
        )
    return out


BUCKET_RESIZE_SCHEMA = (
    "image_id string, bucket_w int, bucket_h int, src_w int, src_h int, "
    "scaled_w int, scaled_h int, crop_x int, crop_y int, "
    "resized binary, decode_error string"
)


def cover_geometry(
    w: int, h: int, bw: int, bh: int
) -> tuple[int, int, int, int]:
    """Scale-to-cover + center-crop geometry: the smallest aspect-preserving
    size whose BOTH axes reach the bucket target, then the centered crop
    window. ONE definition shared by the Spark UDF and the sequential twin,
    so the rounding convention (Python round, banker's) is pinned in one
    place. Returns (scaled_w, scaled_h, crop_x, crop_y)."""
    scale = max(bw / w, bh / h)
    sw = max(bw, round(w * scale))
    sh = max(bh, round(h * scale))
    return sw, sh, (sw - bw) // 2, (sh - bh) // 2


def fit_geometry(
    w: int, h: int, bw: int, bh: int
) -> tuple[int, int, int, int]:
    """Scale-to-FIT + center-pad (letterbox) geometry: the largest
    aspect-preserving size that fits INSIDE the bucket, then the centered
    paste offset. Same single-definition discipline as
    :func:`cover_geometry`. Returns (scaled_w, scaled_h, pad_x, pad_y)."""
    scale = min(bw / w, bh / h)
    sw = min(bw, max(1, round(w * scale)))
    sh = min(bh, max(1, round(h * scale)))
    return sw, sh, (bw - sw) // 2, (bh - sh) // 2


def _prep_pixels(px, bw: int, bh: int, mode: str):
    """Per-row prep kernel shared by the Spark UDF and the sequential twin:
    cover = window-sampled resize + center crop (memory bounded by the
    bucket); fit = letterbox onto a black canvas (scaled dims are <= the
    bucket by construction, so the plain resize is already bounded).
    Returns (scaled_w, scaled_h, off_x, off_y, out_pixels)."""
    import numpy as np

    from ..functions.imagefn import resize_bilinear, resize_bilinear_window

    h, w = px.shape[:2]
    if mode == "cover":
        sw, sh, cx, cy = cover_geometry(w, h, bw, bh)
        return sw, sh, cx, cy, resize_bilinear_window(
            px, sw, sh, cx, cy, bw, bh
        )
    sw, sh, ox, oy = fit_geometry(w, h, bw, bh)
    canvas = np.zeros((bh, bw, px.shape[2]), dtype=np.uint8)
    canvas[oy:oy + sh, ox:ox + sw] = resize_bilinear(px, sw, sh)
    return sw, sh, ox, oy, canvas


def resize_to_bucket(
    images: DataFrame,
    ladder: tuple[tuple[int, int], ...] = ASPECT_LADDER,
    dims_from_decode: bool = False,
    mode: str = "cover",
    apply_orientation: bool = False,
) -> DataFrame:
    """Bucket-resolution training prep (the step after
    :func:`aspect_bucket_assign` in the NovelAI/SDXL recipe): per image,
    decode, bilinear resize-to-COVER the assigned bucket (no letterbox
    padding — both axes meet or exceed the target), center-crop to exactly
    (bucket_w, bucket_h), re-encode PNG. The geometry columns (scaled_w/h,
    crop_x/y) are emitted so a downstream caption-region check can map
    source coordinates into the crop.

    Scale shape: bucket choice is the shared exact-integer argmin
    (:func:`_bucket_argmin_expr`) computed as a column — zero joins — and
    decode/resize/encode run Arrow-batched at SCAN parallelism; resized
    bytes are written once by the caller and never shuffled (bytes
    discipline). Undecodable rows yield null bytes + a labeled
    decode_error (data, not task failure).

    ``dims_from_decode=True`` serves inputs without w/h columns (crawl
    fetch rows): the bucket is chosen per row from the DECODED dims via
    the Fraction-exact twin (py_aspect_bucket_assign — tests pin it equal
    to the plan-side argmin), still zero joins / zero bytes shuffle.

    ``mode="fit"`` letterboxes instead (resize to fit, centered on a black
    canvas — the no-content-loss variant some captioning pipelines want);
    crop_x/crop_y then report the PAD offset of the pasted image.

    ``apply_orientation=True`` honors the EXIF orientation tag on JPEG
    rows (exiffn.apply_exif_orientation) BEFORE bucket choice and resize:
    the 90-degree family (5-8) transposes display dims, so a stored-dims
    bucket would letterbox/crop the wrong axis. It therefore forces the
    dims_from_decode path — the bucket comes from the ORIENTED pixels."""
    from ..functions.imagefn import encode_png

    assert mode in ("cover", "fit"), mode
    if apply_orientation:
        dims_from_decode = True
    if dims_from_decode:
        # -1 sentinel, not NULL: a None in a pandas int column silently
        # becomes float64 (CLAUDE.md gotcha)
        src = images.select(
            "image_id", "bytes", "fmt",
            F.lit(-1).alias("bucket_w"), F.lit(-1).alias("bucket_h"),
        )
    else:
        best = _bucket_argmin_expr(ladder)
        src = images.select(
            "image_id", "bytes", "fmt",
            best["bucket_w"].alias("bucket_w"),
            best["bucket_h"].alias("bucket_h"),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                bw, bh = int(row.bucket_w), int(row.bucket_h)
                rec = {
                    "image_id": row.image_id, "bucket_w": bw, "bucket_h": bh,
                    "src_w": None, "src_h": None,
                    "scaled_w": None, "scaled_h": None,
                    "crop_x": None, "crop_y": None,
                    "resized": None, "decode_error": None,
                }
                try:
                    px = decode_image(bytes(row.bytes), row.fmt)
                    if apply_orientation and row.fmt == "jpeg":
                        from ..functions.exiffn import (
                            apply_exif_orientation,
                            extract_jpeg_exif,
                        )

                        exif = extract_jpeg_exif(bytes(row.bytes))
                        if exif and exif.get("orientation"):
                            px = apply_exif_orientation(
                                px, exif["orientation"]
                            )
                    h, w = px.shape[:2]
                    if bw < 0:  # dims_from_decode: bucket from actual pixels
                        a = py_aspect_bucket_assign(
                            [{"image_id": "", "w": w, "h": h}], ladder
                        )[0]
                        bw, bh = a["bucket_w"], a["bucket_h"]
                        rec.update(bucket_w=bw, bucket_h=bh)
                    sw, sh, cx, cy, outpx = _prep_pixels(px, bw, bh, mode)
                    rec.update(
                        src_w=w, src_h=h, scaled_w=sw, scaled_h=sh,
                        crop_x=cx, crop_y=cy, resized=encode_png(outpx),
                    )
                except (NotImplementedError, ValueError) as exc:
                    rec["decode_error"] = f"{type(exc).__name__}: {exc}"
                    if int(row.bucket_w) < 0:
                        # decode-mode failure: no pixels -> no bucket; emit
                        # NULL, never the internal -1 sentinel (stored-dims
                        # mode keeps the real bucket on its error rows)
                        rec["bucket_w"] = rec["bucket_h"] = None
                out.append(rec)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=BUCKET_RESIZE_SCHEMA)


def py_resize_to_bucket(
    rows, ladder=ASPECT_LADDER, mode="cover", apply_orientation=False
) -> list[dict]:
    """Sequential twin of :func:`resize_to_bucket`: Fraction-exact bucket
    argmin (py_aspect_bucket_assign) + the SAME shared geometry / codec
    functions — the bytes-parity discipline (oracle and operator share the
    deterministic from-scratch encoders; what the twin independently pins
    is the assignment and the plumbing around them). apply_orientation
    mirrors the operator: decode + EXIF-orient first, bucket from the
    oriented dims."""
    from ..functions.imagefn import encode_png

    meta = [{"image_id": r["image_id"], "w": r["w"], "h": r["h"]} for r in rows]
    out = []
    for a, r in zip(py_aspect_bucket_assign(meta, ladder), rows):
        bw, bh = a["bucket_w"], a["bucket_h"]
        rec = {
            "image_id": r["image_id"], "bucket_w": bw, "bucket_h": bh,
            "src_w": None, "src_h": None, "scaled_w": None, "scaled_h": None,
            "crop_x": None, "crop_y": None, "resized": None,
            "decode_error": None,
        }
        try:
            px = decode_image(bytes(r["bytes"]), r["fmt"])
            if apply_orientation and r["fmt"] == "jpeg":
                from ..functions.exiffn import (
                    apply_exif_orientation,
                    extract_jpeg_exif,
                )

                exif = extract_jpeg_exif(bytes(r["bytes"]))
                if exif and exif.get("orientation"):
                    px = apply_exif_orientation(px, exif["orientation"])
            h, w = px.shape[:2]
            if apply_orientation:
                a2 = py_aspect_bucket_assign(
                    [{"image_id": "", "w": w, "h": h}], ladder
                )[0]
                bw, bh = a2["bucket_w"], a2["bucket_h"]
                rec.update(bucket_w=bw, bucket_h=bh)
            sw, sh, cx, cy, outpx = _prep_pixels(px, bw, bh, mode)
            rec.update(
                src_w=w, src_h=h, scaled_w=sw, scaled_h=sh,
                crop_x=cx, crop_y=cy, resized=encode_png(outpx),
            )
        except (NotImplementedError, ValueError) as exc:
            rec["decode_error"] = f"{type(exc).__name__}: {exc}"
            if apply_orientation:
                # mirror the operator's forced dims_from_decode error
                # path: no pixels -> no bucket (twin-exact discipline)
                rec["bucket_w"] = rec["bucket_h"] = None
        out.append(rec)
    return out
