"""Round-10 continuation additions (session 2).

New capability families this wave:

* ``multimodal_audio_wht`` — an integer-exact SPECTRAL feature through
  the real audio codec seam: the fast Walsh-Hadamard transform
  (O(N log N) butterfly) over decoded PCM, pinned against an oracle
  that recomputes every coefficient from the O(N^2) definition.  Until
  now the audio seam exposed only time-domain features (energy,
  zero-crossings, VAD); this is the frequency-domain analysis path a
  training-data pipeline needs for audio quality filtering — expressed
  with a transform whose integer exactness makes it cross-engine
  pinnable where an FFT would drown in float tolerance.

No reference counterpart (the reference is a 406-LoC Singer target
with no relational surface — ``/root/reference/target_parquet/``);
this is brief-extension surface for the LLM training-data pipeline.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from pyspark.sql import Window

from target_parquet_spark.operators import multimodal as M
from target_parquet_spark.operators import text as X
from target_parquet_spark.queries import query, t as td
from target_parquet_spark.queries_ext import SQL_CORPUS, SQL_TOKS, _spark_corpus
from target_parquet_spark.queries_r2 import _SQL_GRAMS5, _grams5
from target_parquet_spark.queries_r5 import _MIN_SPAN_TOKENS

# ---------------------------------------------------------------------------
# Walsh-Hadamard audio spectral signature
# ---------------------------------------------------------------------------

# Oracle: recompute the decoded samples from attach_wav_media's generation
# function (n = 40 + id % 37, s(t) = ((id*31 + t*t*7 + t*13) % 4096) - 2048),
# zero-pad/truncate to 64 points, then evaluate every WHT coefficient from
# the DEFINITION: W[k] = sum_t v[t] * (-1)^popcount(k & t) — the naive
# O(N^2) double loop as nested DuckDB lambdas.  The Spark side runs the
# O(N log N) butterfly over samples produced by the real RIFF chunk walk;
# the md5 over the full 64-coefficient spectrum means a single wrong
# coefficient (or a wrong sample from a container mis-parse) breaks the pin.
_SQL_AUDIO_WHT = """
    WITH lists AS (
      SELECT doc_id,
             40 + doc_id % 37 AS n,
             list_transform(range(0, 64),
               t -> CASE WHEN t < 40 + doc_id % 37
                         THEN ((doc_id * 31 + t * t * 7 + t * 13) % 4096)
                              - 2048
                         ELSE 0 END) AS v
      FROM documents),
    spec AS (
      SELECT doc_id, n,
             list_transform(range(0, 64),
               k -> list_sum(list_transform(range(0, 64),
                      t -> v[t + 1]
                           * (1 - 2 * (bit_count(k & t) % 2))))) AS w
      FROM lists)
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(w[1] AS BIGINT) AS dc,
           CAST(w[2] * w[2] AS BIGINT) AS oct0,
           CAST(list_sum(list_transform(range(2, 4),
                  k -> CAST(w[k + 1] * w[k + 1] AS BIGINT))) AS BIGINT)
             AS oct1,
           CAST(list_sum(list_transform(range(4, 8),
                  k -> CAST(w[k + 1] * w[k + 1] AS BIGINT))) AS BIGINT)
             AS oct2,
           CAST(list_sum(list_transform(range(8, 16),
                  k -> CAST(w[k + 1] * w[k + 1] AS BIGINT))) AS BIGINT)
             AS oct3,
           CAST(list_sum(list_transform(range(16, 32),
                  k -> CAST(w[k + 1] * w[k + 1] AS BIGINT))) AS BIGINT)
             AS oct4,
           CAST(list_sum(list_transform(range(32, 64),
                  k -> CAST(w[k + 1] * w[k + 1] AS BIGINT))) AS BIGINT)
             AS oct5,
           CAST(list_sum(list_transform(w,
                  x -> CAST(x * x AS BIGINT))) AS BIGINT) AS spec_energy,
           md5(array_to_string(w, ',')) AS spectrum_hash
    FROM spec
"""


@query("multimodal_audio_wht", _SQL_AUDIO_WHT)
def multimodal_audio_wht(spark, sf_dir):
    """Frequency-domain audio analysis through the REAL codec seam with
    zero audio libraries: one genuine mono PCM16 RIFF/WAVE payload per
    document id (attach_wav_media — including the planted odd/even LIST
    chunk that exercises the RIFF word-alignment skip), decoded by the
    pure-Python chunk walker, then transformed by the O(N log N) fast
    Walsh-Hadamard butterfly (operators/multimodal.fwht_natural) into an
    integer-exact 64-point spectrum.  Output per clip: DC coefficient,
    six octave-band energies, total spectral energy (Parseval-checked in
    tests), and an md5 over all 64 coefficients.  The oracle never runs
    the fast transform — it evaluates every coefficient from the O(N^2)
    definition — so the two sides agree only if the butterfly recursion
    is exactly the Hadamard kernel AND the RIFF walk produced exactly
    the right samples.

    Plan shape for 100 TB: two chained Arrow-batched mapInPandas stages
    over the id column only — scan-stage, zero shuffles; payloads never
    leave the creating task, only fixed-width spectral features exit
    (the frequency-domain twin of the audio_features contract)."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_wav_media(docs, "doc_id")
    return M.audio_wht(media, n_points=64)


# ---------------------------------------------------------------------------
# differentially-private count release (deterministic geometric mechanism)
# ---------------------------------------------------------------------------

# Two-sided geometric mechanism with alpha = exp(-epsilon) = 1/2
# (epsilon = ln 2 per released cell, sensitivity 1 for disjoint counts):
# P(noise = k) = ((1-alpha)/(1+alpha)) * alpha^|k| = (1/3) * (1/2)^|k|.
# The CDF is exactly rational, so inverse-CDF sampling reduces to integer
# comparisons against precomputed thresholds — no float randomness, no
# cross-engine ln/exp: both engines derive u from md5(cell key) and count
# how many thresholds it clears.  Noise is clipped to [-16, 16] (total
# clipped mass 2*(2/3)*2^-16 < 3e-5 — the release is (eps, delta)-DP with
# that delta; the clip is what makes the threshold table finite).
_DP_SCALE = 1 << 30
_DP_CLIP = 16


def _dp_thresholds() -> list[int]:
    """floor(CDF(j) * 2^30) for j in [-CLIP, CLIP): the inverse-CDF
    lattice.  noise(u) = -CLIP + #{j : u >= T_j} for u uniform on
    [0, 2^30)."""
    out = []
    for j in range(-_DP_CLIP, _DP_CLIP):
        if j < 0:
            c = Fraction(2, 3) * Fraction(1, 2) ** (-j)
        else:
            c = 1 - Fraction(2, 3) * Fraction(1, 2) ** (j + 1)
        out.append(int(c * _DP_SCALE))  # exact floor: int() of Fraction
    return out


_DP_T = _dp_thresholds()
_DP_EPSILON = 0.6931  # round(ln 2, 4), shared literal — never computed

_SQL_DP_COUNTS = f"""
    WITH cells AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS DATE) AS week_start,
             count(*) AS true_count
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2),
    seeded AS (
      SELECT event_type, week_start, true_count,
             ('0x' || substr(md5(event_type || '|' ||
                             CAST(week_start AS VARCHAR)), 1, 8))::BIGINT
               % {_DP_SCALE} AS u
      FROM cells),
    noised AS (
      SELECT event_type, week_start, true_count,
             -{_DP_CLIP} + list_sum(list_transform(
               [{", ".join(str(t) for t in _DP_T)}],
               thr -> CASE WHEN u >= thr THEN 1 ELSE 0 END)) AS noise
      FROM seeded)
    SELECT event_type, week_start,
           CAST(true_count AS BIGINT) AS true_count,
           CAST(noise AS BIGINT) AS noise,
           CAST(true_count + noise AS BIGINT) AS noisy_count,
           CAST({_DP_EPSILON!r} AS DOUBLE) AS epsilon
    FROM noised
"""


@query("audit_dp_counts", _SQL_DP_COUNTS)
def audit_dp_counts(spark, sf_dir):
    """Differentially-private count release for governance pipelines:
    per-(event_type, week) event counts released through the two-sided
    geometric mechanism (the discrete Laplace — Ghosh/Roughgarden/
    Sundararajan's universally-utility-maximizing mechanism for counts)
    at epsilon = ln 2, with DETERMINISTIC noise so the release is
    replayable and auditable: u = md5(cell key) mod 2^30 feeds an exact
    rational inverse-CDF threshold table (alpha = 1/2 makes every CDF
    value a dyadic-over-3 rational; thresholds are precomputed with
    Fraction and shared verbatim with the oracle).  Output keeps
    true_count and noise alongside noisy_count because this is the
    utility-loss AUDIT view of the mechanism, not the public release —
    dropping two columns yields the releasable table.

    Plan shape for 100 TB: one groupBy on (type, week) with map-side
    partial aggregation is the only shuffle; noise is a chain of 32
    integer comparisons on the tiny post-agg cell table, entirely inside
    whole-stage codegen (no UDF, no RNG state, no driver loop)."""
    ev = td(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cells = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
    ).agg(F.count(F.lit(1)).alias("true_count"))
    key = F.concat_ws(
        "|", F.col("event_type"), F.col("week_start").cast("string")
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        % F.lit(_DP_SCALE)
    )
    noise = F.lit(-_DP_CLIP)
    for thr in _DP_T:
        noise = noise + F.when(u >= F.lit(thr), 1).otherwise(0)
    return cells.select(
        "event_type",
        "week_start",
        F.col("true_count").cast("long").alias("true_count"),
        noise.cast("long").alias("noise"),
        (F.col("true_count") + noise).cast("long").alias("noisy_count"),
        F.lit(_DP_EPSILON).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# duplicated-substring EXCISION (the removal step after detection)
# ---------------------------------------------------------------------------

_SQL_SUBSTRING_REMOVE = f"""
    WITH {SQL_CORPUS},
    base AS (
      SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM corpus),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) < 5 THEN CAST([] AS BIGINT[])
                         ELSE range(1, len(toks) - 3) END) AS pos,
             ('0x' || substr(md5(unnest(
               {_SQL_GRAMS5.format(t='toks')}
             )), 1, 15))::BIGINT AS gh
      FROM base),
    gd AS (
      SELECT gh FROM (
        SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh)
      WHERE nd >= 2),
    dup AS (
      SELECT g.doc_id, g.pos FROM g JOIN gd USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM dup),
    runs AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
      FROM isl GROUP BY doc_id, grp),
    lr AS (
      SELECT doc_id, s, e FROM runs
      WHERE e - s + 1 >= {_MIN_SPAN_TOKENS}),
    iv AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS ivs
           FROM lr GROUP BY doc_id),
    j AS (
      SELECT b.doc_id, b.toks, COALESCE(iv.ivs, []) AS ivs
      FROM base b LEFT JOIN iv ON b.doc_id = iv.doc_id),
    k AS (
      SELECT doc_id, toks, ivs,
             list_filter(toks, (x, i) -> len(list_filter(ivs,
               v -> i BETWEEN v.s AND v.e)) = 0) AS kept
      FROM j)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
           CAST(len(ivs) AS BIGINT) AS n_spans,
           md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_hash
    FROM k
"""


@query("dedup_substring_remove", _SQL_SUBSTRING_REMOVE)
def dedup_substring_remove(spark, sf_dir):
    """The REMOVAL step that dedup_substring_runs only detects: excise
    every token covered by a long (>= 20-token) cross-document
    duplicated run and emit the cleaned corpus fingerprint — per doc,
    the before/after token counts, the number of excised spans, and an
    md5 over the cleaned text so a single mis-kept token breaks the pin.
    Policy: aggressive C4/Gopher-style excision (all copies removed);
    Lee et al.'s keep-one variant is the same plan with a canonical-
    occurrence exemption join.  Runs on the doubled corpus so long
    duplicated runs are guaranteed.

    Plan shape for 100 TB: identical linear pipeline to
    dedup_substring_runs up to the runs CTE (grams hashed to 60-bit
    longs in the scan stage; islands window bounded per doc), then the
    per-doc interval set — a handful of (start, end) pairs, NOT
    per-token rows — rejoins the token arrays once, and the excision
    itself is an index-aware array filter inside whole-stage codegen:
    tokens are never exploded for removal, so the shuffle volume of the
    removal stage is O(runs), not O(tokens).

    r11 (VERDICT r10 #4, guide §2.3/§2.4 — the 8.5x/decade fix): the
    old shape derived the gram stream TWICE (once for the
    distinct->groupBy duplicated-gram table, once as the join probe)
    and moved it through THREE gram-scale exchanges (distinct on
    (gh, doc_id), groupBy gh, join on gh).  'Duplicated in >= 2 docs'
    is equivalent to min(doc_id) < max(doc_id) over the gh partition —
    constant aggregation state, no distinct, no join — so one window
    over ONE gh exchange of one gram-stream derivation replaces all
    three.  The join-back carries no broadcast hint: the interval table
    has one row per doc with a duplicated run, so it grows with the
    corpus.  Spark broadcasts it while its size (estimated, or measured
    at runtime under AQE) is under the broadcast threshold, as at sf0.1,
    so the token arrays never ride an exchange there; past that it plans
    a sort-merge join instead of failing on an oversized broadcast."""
    corpus = _spark_corpus(spark, sf_dir)
    toked = corpus.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    gh = X.hash60(F.col("gram"))
    g = toked.select(
        "doc_id", F.posexplode(_grams5(F.col("toks"))).alias("pos", "gram")
    ).select("doc_id", "pos", gh.alias("gh"))
    wg = Window.partitionBy("gh")
    dup = (
        g.withColumn("_mn", F.min("doc_id").over(wg))
        .withColumn("_mx", F.max("doc_id").over(wg))
        .filter(F.col("_mn") < F.col("_mx"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    runs = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(4)).alias("e")
    )
    lr = runs.filter(F.col("e") - F.col("s") + 1 >= _MIN_SPAN_TOKENS)
    iv = lr.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("ivs")
    )
    j = toked.join(iv, "doc_id", "left").withColumn(
        "ivs",
        F.coalesce(F.col("ivs"), F.array().cast("array<struct<s:int,e:int>>")),
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("ivs"), lambda v: (i >= v["s"]) & (i <= v["e"])
        ),
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.size("ivs").cast("long").alias("n_spans"),
        F.md5(F.concat_ws(" ", kept)).alias("cleaned_hash"),
    )


# ---------------------------------------------------------------------------
# real TIFF decode: the tagged-container raster format
# ---------------------------------------------------------------------------

# Oracle: recompute every DECODED pixel from attach_tiff_media's
# generation function (w = 8*(1 + id%3), h = 4*(1 + id%4),
# px(x, y) = (id*37 + y*17 + (x//4)*11) % 256) and the container facts
# from the id parity rules — WITHOUT ever parsing TIFF.  The Spark side
# must walk the genuine IFD (endianness, inline-vs-offset values, strip
# reassembly, PackBits RLE) to produce the same rows: byte_order and
# compression are pinned from what the DECODER read out of the
# container, n_strips from the StripOffsets array length, and the pixel
# hash from the reassembled strips.
_SQL_DECODE_TIFF = """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
             CAST(4 * (1 + doc_id % 4) AS INTEGER) AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             array_to_string(list_transform(range(0, width * height),
               i -> format('{:02X}',
                 (doc_id * 37 + (i // width) * 17
                  + ((i % width) // 4) * 11) % 256)), '') AS pixhex
      FROM dims)
    SELECT doc_id AS media_id, width, height,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 32773 ELSE 1 END AS INTEGER)
             AS compression,
           CAST((height + 3) // 4 AS INTEGER) AS n_strips,
           md5(pixhex) AS pixels_hash
    FROM px
"""


@query("multimodal_decode_tiff", _SQL_DECODE_TIFF)
def multimodal_decode_tiff(spark, sf_dir):
    """REAL TIFF decode end-to-end with zero imaging libraries: one
    genuine baseline grayscale TIFF per document id (attach_tiff_media —
    8-byte header with explicit byte order, sorted IFD,
    inline-vs-offset tag values, multi-strip pixel layout), decoded by
    the pure-Python IFD walker in operators/multimodal.decode_tiff.
    Even ids are little-endian (II), odd ids big-endian (MM), and every
    third id compresses strips with PackBits RLE (TIFF 6.0 section 9) —
    so one query pins BOTH endian paths and both compression paths.
    The oracle recomputes pixels and container facts from the
    generation rules directly — it never parses TIFF — so the Spark
    side only matches if the IFD walk, strip reassembly, and RLE decode
    are all exactly right.

    Plan shape: two chained Arrow-batched mapInPandas stages over the
    id column only — scan-stage, zero shuffles; payloads never leave
    the creating task (the TIFF twin of the BMP/PNG decode contract)."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_tiff_media(docs, "doc_id")
    return M.decode_tiff_images(media)


# ---------------------------------------------------------------------------
# degree-capped bipartite projection (user-user co-engagement graph)
# ---------------------------------------------------------------------------

_BIPARTITE_DEGREE_CAP = 64
_BIPARTITE_TOPK = 3

_SQL_BIPARTITE = f"""
    WITH inc AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (
      SELECT item, count(*) AS d FROM inc GROUP BY item),
    kept AS (
      SELECT i.u, i.item FROM inc i JOIN deg USING (item)
      WHERE deg.d <= {_BIPARTITE_DEGREE_CAP}),
    pairs AS (
      SELECT a.u, b.u AS v, count(*) AS shared_items
      FROM kept a JOIN kept b USING (item)
      WHERE a.u <> b.u
      GROUP BY a.u, b.u),
    rk AS (
      SELECT u, v, shared_items,
             row_number() OVER (PARTITION BY u
                                ORDER BY shared_items DESC, v) AS r
      FROM pairs)
    SELECT u AS custkey, CAST(r AS INTEGER) AS rank,
           v AS neighbor,
           CAST(shared_items AS BIGINT) AS shared_items
    FROM rk WHERE r <= {_BIPARTITE_TOPK}
"""


@query("graph_bipartite_projection", _SQL_BIPARTITE)
def graph_bipartite_projection(spark, sf_dir):
    """Co-purchase graph by bipartite projection — the market-basket
    primitive recommenders start from: customers connect to the parts
    they have ordered (orders x lineitem incidence, distinct), and
    projecting onto customers yields the weighted customer-customer
    graph (weight = co-purchased part count); output is each customer's
    top-3 co-purchase neighbors.  The projection DEGREE-CAPS items
    before the self-join: a part bought by d customers contributes
    d^2 pairs, so hub items are dropped at cap 64 — on this catalog
    part degrees sit near 30 at EVERY scale factor (catalog and
    customer base grow together, the realistic shape), making the cap
    insurance against real-world hub skew rather than a filter that
    empties at scale.

    Plan shape for 100 TB: the incidence distinct is a map-side-
    combined aggregation and the item-degree cap is a streaming count
    window over the same item partitioning; the self-join is equi-keyed
    on item (never all-pairs), generates each unordered pair once, and
    its output is bounded by sum(d_i^2)/2 <= cap * |incidence| / 2 —
    linear in the data with the cap as the constant; the per-customer
    top-k is one window over the mirrored pair aggregate, partitioned
    by customer so state is bounded."""
    orders = td(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = td(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inc = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    # Degree cap via a count window over the item partition instead of
    # a separate groupBy + join-back: the incidence (orders x lineitem
    # + distinct) is planned ONCE, not four times, and both self-join
    # sides hang off the same Exchange(item) so exchange reuse skips
    # the recompute.  Hub-safe like the old shape: the window count is
    # a streaming count per key, no per-item neighbor list is ever
    # materialized before the cap filter drops hubs.
    wd = Window.partitionBy("item")
    kept = (
        inc.withColumn("d", F.count(F.lit(1)).over(wd))
        .filter(F.col("d") <= _BIPARTITE_DEGREE_CAP)
        .select("item", "u")
    )
    # Generate each unordered pair once (u < v), aggregate, then mirror:
    # shared_items is symmetric, so this halves the pair shuffle and the
    # aggregation state versus emitting both directions pre-aggregate.
    half = (
        kept.join(kept.select("item", F.col("u").alias("v")), "item")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared_items"))
    )
    pairs = half.union(
        half.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "shared_items"
        )
    )
    w = Window.partitionBy("u").orderBy(
        F.col("shared_items").desc(), F.col("v").asc()
    )
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _BIPARTITE_TOPK)
        .select(
            F.col("u").alias("custkey"),
            F.col("r").cast("int").alias("rank"),
            F.col("v").alias("neighbor"),
            F.col("shared_items").cast("long").alias("shared_items"),
        )
    )


# ---------------------------------------------------------------------------
# EXIF-style metadata harvest (header-only TIFF read)
# ---------------------------------------------------------------------------

_SQL_EXIF_METADATA = """
    SELECT doc_id AS media_id,
           CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
           CAST(4 * (1 + doc_id % 4) AS INTEGER) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 32773 ELSE 1 END AS INTEGER)
             AS compression,
           CAST((4 * (1 + doc_id % 4) + 3) // 4 AS INTEGER) AS n_strips,
           'C' || CAST(doc_id % 7 AS VARCHAR) AS make,
           'MODEL-' || CAST(doc_id % 13 AS VARCHAR) AS model,
           'target-parquet-spark' AS software,
           format('2024:01:{:02d} 12:{:02d}:00',
                  1 + doc_id % 28, doc_id % 60) AS datetime_tag
    FROM documents
"""


@query("multimodal_exif_metadata", _SQL_EXIF_METADATA)
def multimodal_exif_metadata(spark, sf_dir):
    """EXIF-style metadata harvest WITHOUT pixel decode: genuine TIFF
    payloads carrying ASCII tags (Make inline in the 4-byte IFD value
    slot, Model/Software/DateTime out-of-line — both TIFF 6.0 storage
    forms in every payload), read by a header-only IFD walk
    (operators/multimodal.tiff_metadata) that never touches the strip
    data.  The oracle recomputes every field from the generation rules;
    the Spark side must parse the real container — endianness, the
    inline-vs-offset ASCII rule, NUL termination, the tag-sorted IFD —
    to match.

    Plan shape for 100 TB: metadata extraction reads a few hundred
    bytes per payload regardless of image size (no decompression, no
    pixel buffers), so the seam's cost scales with file COUNT, not
    byte volume — the same reason media_manifest prunes the binary
    column entirely.  Two chained mapInPandas stages over the id
    column, zero shuffles."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_exif_tiff_media(docs, "doc_id")
    return M.tiff_metadata_scan(media)


# ---------------------------------------------------------------------------
# video shot boundaries (successive-frame L1 over decoded AVI/MJPEG)
# ---------------------------------------------------------------------------

# Oracle: recompute each frame's pixels from attach_avi_media's
# generation function (w = 8*(2 + id%2), h = 8*(1 + id%2),
# px(f, x, y) = (id*37 + f*53 + (y//8)*17 + (x//8)*11) % 256 — 8x8
# block-constant, so baseline-JPEG quantization round-trips exactly)
# and difference successive frames WITHOUT parsing AVI or JPEG.  The
# +53-per-frame drift wraps mod 256 on pixels >= 203, so per-pixel
# diffs are 53 or 203 and the wrapped fraction varies per (id, frame) —
# some pairs cross the boundary threshold and some do not.
_SHOT_THRESHOLD_CENTI = 10000

_SQL_SHOT_BOUNDARIES = f"""
    WITH dims AS (
      SELECT doc_id,
             CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
             CAST(8 * (2 + doc_id % 2) AS INTEGER) AS width,
             CAST(8 * (1 + doc_id % 2) AS INTEGER) AS height
      FROM documents),
    pairs AS (
      SELECT doc_id, width, height,
             CAST(u.f AS INTEGER) AS frame_idx
      FROM dims, unnest(range(1, n_frames)) AS u(f)),
    diffs AS (
      SELECT doc_id, frame_idx, width, height,
             list_sum(list_transform(range(0, width * height),
               i -> abs(
                 (doc_id * 37 + frame_idx * 53
                  + ((i // width) // 8) * 17
                  + ((i % width) // 8) * 11) % 256
                 - (doc_id * 37 + (frame_idx - 1) * 53
                    + ((i // width) // 8) * 17
                    + ((i % width) // 8) * 11) % 256))) AS l1
      FROM pairs)
    SELECT doc_id AS media_id, frame_idx,
           CAST(l1 AS BIGINT) AS l1,
           CAST(l1 * 100 // (width * height) AS BIGINT) AS mean_centidiff,
           l1 * 100 // (width * height) >= {_SHOT_THRESHOLD_CENTI}
             AS is_boundary
    FROM diffs
"""


@query("multimodal_shot_boundaries", _SQL_SHOT_BOUNDARIES)
def multimodal_shot_boundaries(spark, sf_dir):
    """Shot detection over REAL video payloads: each document's
    AVI/MJPEG clip is demuxed by the pure nested-RIFF walker, every
    frame JPEG-decoded, and successive frames differenced — one row per
    frame pair with the exact integer L1 distance, the mean absolute
    difference in centiunits, and the boundary flag at threshold 100.0
    (the scene-segmentation primitive video curation runs before frame
    sampling).  The oracle recomputes every frame's pixels from the
    generation function and never parses a container, so the Spark side
    only matches if the RIFF walk AND the per-frame lossy decode are
    both exactly right — the temporal twin of multimodal_video_frames.
    The generation function's +53/frame drift wraps mod 256 on bright
    pixels, so boundary flags genuinely split both ways.

    Plan shape: two chained Arrow-batched mapInPandas stages over the
    id column only — scan-stage, zero shuffles; a clip's frames are
    decoded and differenced inside one Arrow batch."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_avi_media(docs, "doc_id")
    return M.video_shot_boundaries(media, _SHOT_THRESHOLD_CENTI)


# ---------------------------------------------------------------------------
# WordPiece-style greedy longest-match segmentation (the BERT tokenizer
# family — greedy maximal munch over a frequency-derived subword vocab,
# continuation pieces marked '##'; BPE's learned-merge family lives in
# text_bpe_*)
# ---------------------------------------------------------------------------

_WP_VOCAB_K = 24  # top-K character n-grams (len 2..4) by corpus frequency
_WP_STEPS = 12  # >= max word length, so greedy always terminates


def _wp_sql() -> str:
    """Unrolled greedy segmentation: one CTE per step; each step takes
    the LONGEST vocab piece that prefixes the remainder (unique — two
    distinct equal-length strings cannot both prefix the same word), or
    a single character as the out-of-vocab fallback."""
    steps = []
    for s in range(1, _WP_STEPS + 1):
        steps.append(f"""
    s{s} AS (
      SELECT word, freq,
             CASE WHEN rem = '' THEN rem
                  ELSE substr(rem, length(best) + 1) END AS rem,
             CASE WHEN rem = '' THEN pieces
                  ELSE list_append(pieces,
                    CASE WHEN len(pieces) = 0 THEN best
                         ELSE '##' || best END) END AS pieces
      FROM (
        SELECT *, COALESCE(
                 (SELECT max_by(v.g, length(v.g)) FROM vocab v
                  WHERE starts_with(rem, v.g)),
                 substr(rem, 1, 1)) AS best
        FROM s{s - 1}))""")
    return f"""
    WITH w AS (
      SELECT unnest({SQL_TOKS.format(c='text')}) AS word FROM documents),
    words AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
    grams AS (
      -- n-grams come from the DISTINCT word table weighted by corpus
      -- frequency — identical counts to exploding the raw stream, one
      -- corpus scan instead of two
      SELECT freq,
             unnest(flatten(list_transform([2, 3, 4], L ->
        CASE WHEN length(word) >= L
             THEN list_transform(range(1, length(word) - L + 2),
                    i -> substr(word, CAST(i AS INTEGER), CAST(L AS INTEGER)))
             ELSE [] END))) AS g
      FROM words),
    vc AS (SELECT g, sum(freq) AS c FROM grams GROUP BY g),
    vocab AS (
      SELECT g FROM (
        SELECT g, row_number() OVER (ORDER BY c DESC, g) AS rk FROM vc)
      WHERE rk <= {_WP_VOCAB_K}),
    s0 AS (SELECT word, freq, word AS rem,
                  CAST([] AS VARCHAR[]) AS pieces FROM words),
    {','.join(steps)}
    SELECT word,
           CAST(freq AS BIGINT) AS n_occurrences,
           CAST(len(pieces) AS BIGINT) AS n_pieces,
           array_to_string(pieces, ' ') AS segmentation,
           rem AS unconsumed
    FROM s{_WP_STEPS}
"""


@query("text_wordpiece_segment", _wp_sql())
def text_wordpiece_segment(spark, sf_dir):
    """WordPiece-style tokenizer over the corpus's own statistics: the
    subword vocabulary is the top-24 character n-grams (length 2-4) by
    corpus frequency (ties broken lexicographically), and each distinct
    word is segmented by greedy maximal munch — repeatedly take the
    longest vocab piece that prefixes the remainder, falling back to a
    single character when nothing matches (every word segments, the
    WordPiece [UNK]-avoidance property); continuation pieces carry the
    '##' marker.  This is the BERT tokenizer family (greedy
    longest-match against a fixed vocab) as distinct from the learned-
    merge BPE family covered by text_bpe_* — together the two span the
    dominant subword tokenizer designs.  Output per word: corpus
    frequency, piece count (the word's fertility), the marked
    segmentation string, and the unconsumed remainder (always empty
    when the step unroll covers the longest word — pinned by the
    oracle).

    Plan shape for 100 TB: the token explode + n-gram count is the only
    heavy stage (one groupBy with map-side combine); segmentation runs
    on the DISTINCT-words table — vocabulary-sized, orders of magnitude
    smaller than the corpus — as a broadcast crossJoin with the single-
    row vocab array and a 12-iteration aggregate() fold entirely inside
    whole-stage codegen: no per-step joins, no UDF, no driver loop."""
    docs = td(spark, sf_dir, "documents")
    w = docs.select(F.explode(X.tokens(F.col("text"))).alias("word"))
    # the ONLY corpus-wide shuffle: distinct words with frequencies;
    # everything downstream works on this vocabulary-sized table
    words = w.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))

    def _grams_of(L: int):
        # closure factory, NOT a default-arg lambda: pyspark dispatches
        # on lambda arity, so `lambda i, L=L` would be read as the
        # (element, index) two-parameter form with L bound to the index
        return F.when(
            F.length("word") >= L,
            F.transform(
                F.sequence(F.lit(1), F.length("word") - (L - 1)),
                lambda i: F.col("word").substr(i, F.lit(L)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = words.select(
        "freq",
        F.explode(
            F.flatten(F.array(*[_grams_of(L) for L in (2, 3, 4)]))
        ).alias("g"),
    )
    vc = grams.groupBy("g").agg(F.sum("freq").alias("c"))
    rk = F.row_number().over(
        Window.orderBy(F.col("c").desc(), F.col("g").asc())
    )
    vocab_row = (
        vc.withColumn("rk", rk)
        .filter(F.col("rk") <= _WP_VOCAB_K)
        .agg(F.sort_array(F.collect_list("g")).alias("vocab"))
    )
    st = words.crossJoin(F.broadcast(vocab_row))

    best = (
        "coalesce(array_max(transform("
        "  filter(vocab, p -> startswith(acc.rem, p)),"
        "  p -> named_struct('l', length(p), 'p', p))).p,"
        " substr(acc.rem, 1, 1))"
    )
    seg = F.expr(
        f"""
        aggregate(
          sequence(1, {_WP_STEPS}),
          named_struct('rem', word,
                       'pieces', cast(array() as array<string>)),
          (acc, step) -> CASE WHEN acc.rem = '' THEN acc ELSE
            named_struct(
              'rem', substr(acc.rem, length({best}) + 1),
              'pieces', array_append(acc.pieces,
                CASE WHEN size(acc.pieces) = 0 THEN {best}
                     ELSE concat('##', {best}) END))
            END,
          acc -> acc)
        """
    )
    return st.select(
        "word",
        F.col("freq").cast("long").alias("n_occurrences"),
        F.size(seg["pieces"]).cast("long").alias("n_pieces"),
        F.concat_ws(" ", seg["pieces"]).alias("segmentation"),
        seg["rem"].alias("unconsumed"),
    )


# ---------------------------------------------------------------------------
# right-to-be-forgotten erasure audit (GDPR art. 17 cascade)
# ---------------------------------------------------------------------------

_SQL_GDPR_ERASURE = """
    WITH erased AS (
      SELECT c_custkey FROM customer
      WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1')),
    eo AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM erased)),
    rows_c AS (
      SELECT 'customer' AS table_name,
             count(*) AS n_rows,
             sum(CASE WHEN c_custkey IN (SELECT c_custkey FROM erased)
                      THEN 1 ELSE 0 END) AS n_linked,
             count(DISTINCT CASE WHEN c_custkey IN
                      (SELECT c_custkey FROM erased)
                      THEN c_custkey END) AS n_subjects
      FROM customer),
    rows_o AS (
      SELECT 'orders', count(*),
             sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM erased)
                      THEN 1 ELSE 0 END),
             count(DISTINCT CASE WHEN o_custkey IN
                      (SELECT c_custkey FROM erased)
                      THEN o_custkey END)
      FROM orders),
    rows_l AS (
      SELECT 'lineitem', count(*),
             sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM eo)
                      THEN 1 ELSE 0 END),
             count(DISTINCT CASE WHEN l_orderkey IN
                      (SELECT o_orderkey FROM eo)
                      THEN l_orderkey END)
      FROM lineitem),
    rows_e AS (
      SELECT 'events', count(*),
             sum(CASE WHEN user_id IN (SELECT c_custkey FROM erased)
                      THEN 1 ELSE 0 END),
             count(DISTINCT CASE WHEN user_id IN
                      (SELECT c_custkey FROM erased)
                      THEN user_id END)
      FROM events),
    u AS (
      SELECT * FROM rows_c UNION ALL SELECT * FROM rows_o
      UNION ALL SELECT * FROM rows_l UNION ALL SELECT * FROM rows_e)
    SELECT table_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_linked AS BIGINT) AS n_linked,
           CAST(n_subjects AS BIGINT) AS n_subjects,
           CAST(n_rows - n_linked AS BIGINT) AS n_after_erasure
    FROM u
"""


@query("audit_gdpr_erasure", _SQL_GDPR_ERASURE)
def audit_gdpr_erasure(spark, sf_dir):
    """Right-to-be-forgotten cascade audit: a deterministic ~2/16 of
    customers (md5 of the key, leading hex in {0,1}) files an erasure
    request, and the audit reports — per table — how many rows the
    cascade touches: customer directly, orders one hop away
    (o_custkey), lineitem TWO hops away (l_orderkey through the erased
    customers' orders — transitive erasure, the part naive
    per-table-filter compliance tooling misses), and events via the
    user link.  Output per table: total rows, linked rows, distinct
    linked join keys, and the post-erasure row count.

    Plan shape for 100 TB: the erased-key set is orders of magnitude
    smaller than any fact table and is BROADCAST into per-table
    semi-join-shaped conditional counts (one scan per table, no
    shuffle on the fact side); the two-hop lineitem cascade broadcasts
    the erased ORDER keys, which stay proportional to the erasure
    fraction.  At real scale the erased-key set is a bloom/bitmap
    sidecar and each count is the same one-scan shape."""
    cust = td(spark, sf_dir, "customer")
    erased = F.broadcast(
        cust.filter(
            F.substring(
                F.md5(F.col("c_custkey").cast("string")), 1, 1
            ).isin("0", "1")
        ).select("c_custkey")
    )
    orders = td(spark, sf_dir, "orders")
    eo = F.broadcast(
        orders.join(
            erased, orders["o_custkey"] == erased["c_custkey"], "left_semi"
        ).select("o_orderkey")
    )

    def summarize(df, name, key, keys_df, keys_col):
        flagged = F.col("__linked")
        marked = df.join(
            keys_df.withColumnRenamed(keys_col, "__k"),
            df[key] == F.col("__k"),
            "left",
        ).withColumn("__linked", F.col("__k").isNotNull())
        return marked.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(flagged.cast("long")).cast("long").alias("n_linked"),
            F.count_distinct(
                F.when(flagged, df[key])
            ).cast("long").alias("n_subjects"),
            (
                F.count(F.lit(1)) - F.sum(flagged.cast("long"))
            ).cast("long").alias("n_after_erasure"),
        )

    ev = td(spark, sf_dir, "events")
    li = td(spark, sf_dir, "lineitem")
    return (
        summarize(cust, "customer", "c_custkey", erased, "c_custkey")
        .unionByName(summarize(orders, "orders", "o_custkey", erased, "c_custkey"))
        .unionByName(summarize(li, "lineitem", "l_orderkey", eo, "o_orderkey"))
        .unionByName(summarize(ev, "events", "user_id", erased, "c_custkey"))
    )


# ---------------------------------------------------------------------------
# XML as a source format (Spark 4 native XML data source)
# ---------------------------------------------------------------------------


from target_parquet_spark.queries_r10 import _SQL_DOCS_CHECKSUM  # noqa: E402


@query("scan_xml_source", _SQL_DOCS_CHECKSUM)
def scan_xml_source(spark, sf_dir):
    """XML as a source format: the same warehouse round-trip gate as
    scan_csv_source/scan_jsonl_source/scan_orc_source through Spark 4's
    NATIVE XML data source (the spark-xml package merged upstream in
    4.0) — one entity-escaped <doc> element per row, read back with an
    explicit schema and per-language checksummed.  The oracle checksums
    the ORIGINAL parquet, so equality proves the XML writer/reader pair
    preserved every byte of text and every numeric column.  Completes
    the source matrix: parquet, CSV, JSONL, ORC, XML, Singer.

    Plan shape: explicit schema skips inference; rowTag elements split
    by row within a file, and the artifact keeps one file per input
    partition, so the read parallelizes like JSONL (not like multiLine
    CSV).  At 100 TB, XML is an ingest-once format — this query is the
    conversion gate that proves nothing was lost on the way to
    parquet."""
    from target_parquet_spark.queries_r10 import (
        _docs_checksum,
        _roundtrip_artifact,
    )

    return _docs_checksum(_roundtrip_artifact(spark, sf_dir, "xml"))


# ---------------------------------------------------------------------------
# calibration bins for the trained quality classifier (reliability / ECE)
# ---------------------------------------------------------------------------


def _sql_calibration() -> str:
    from target_parquet_spark.queries_r7 import _sql_logreg_prefix

    return f"""{_sql_logreg_prefix()},
    b AS (SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
                 score, y
          FROM s),
    t AS (SELECT count(*) AS n_total FROM b),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(y) AS BIGINT) AS n_pos,
             round(avg(score), 4) AS avg_confidence,
             round(avg(y), 4) AS obs_rate,
             round(abs(avg(score) - avg(y)), 4) AS abs_gap
      FROM b GROUP BY bin)
    SELECT bin, n_docs, n_pos, avg_confidence, obs_rate, abs_gap,
           round(abs_gap * n_docs / t.n_total, 6) AS ece_contrib
    FROM per_bin, t
    """


@query("model_calibration_bins", _sql_calibration())
def model_calibration_bins(spark, sf_dir):
    """Reliability diagram + expected-calibration-error decomposition
    for the TRAINED quality classifier (text_quality_logreg_trained's
    model, scored through the same distributed-GD / literal-weight
    seam): predictions bucket into ten equal-width confidence bins;
    each bin reports its mean predicted confidence, observed positive
    rate, the |confidence - accuracy| gap, and its weighted ECE
    contribution (bin mass x gap — summing the column IS the ECE).
    This is the eval-harness step that decides whether the quality
    gate's scores can be used as sampling WEIGHTS (calibrated) or only
    as a ranking (uncalibrated), which changes how the curation
    pipeline consumes them.

    Determinism: the gap is rounded at 4dp BEFORE the ECE product (the
    repo's 6dp-quantized-model-state convention absorbs cross-engine
    partial-aggregation order in avg(score)); counts and the bin mass
    ratio are exact integers.

    Plan shape: training is _LR_ROUNDS one-aggregate passes (see
    train_quality_logreg); the calibration read-out is ONE extra
    groupBy over ten bins with map-side combine, plus a broadcast of
    the single-row total."""
    from target_parquet_spark.queries_r7 import (
        _logreg_score,
        train_quality_logreg,
    )

    z, w = train_quality_logreg(spark, sf_dir)
    s = z.select("y", _logreg_score(w).alias("score"))
    b = s.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9))
        .cast("int")
        .alias("bin"),
        "score",
        "y",
    )
    total = F.broadcast(b.agg(F.count(F.lit(1)).alias("n_total")))
    per_bin = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.avg("score"), 4).alias("avg_confidence"),
        F.round(F.avg("y"), 4).alias("obs_rate"),
        F.round(F.abs(F.avg("score") - F.avg("y")), 4).alias("abs_gap"),
    )
    return per_bin.crossJoin(total).select(
        "bin",
        "n_docs",
        "n_pos",
        "avg_confidence",
        "obs_rate",
        "abs_gap",
        F.round(
            F.col("abs_gap") * F.col("n_docs") / F.col("n_total"), 6
        ).alias("ece_contrib"),
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch: the third mergeable-sketch family (k minimum values)
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_DOMAIN = 1 << 60  # hash60 range

_SQL_KMV = f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL),
    h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM du),
    rk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM h),
    per_type AS (
      -- unsaturated sketch (nd < k): the k-min set IS the exact value
      -- set, so the row anchors on the largest seen hash instead
      SELECT event_type AS scope, hv AS kth_hash, nd,
             nd AS exact_distinct
      FROM rk WHERE r = least({_KMV_K}, nd)),
    merged_pool AS (
      -- mergeability: the global sketch is built from the per-type
      -- k-min SETS only, never from the raw stream
      SELECT DISTINCT hv FROM rk WHERE r <= {_KMV_K}),
    mrk AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS r,
             count(*) OVER () AS pool_n
      FROM merged_pool),
    merged AS (
      SELECT '__merged' AS scope, hv AS kth_hash,
             least({_KMV_K}, pool_n) AS nd,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE user_id IS NOT NULL) AS exact_distinct
      FROM mrk WHERE r = least({_KMV_K}, pool_n)),
    u AS (SELECT * FROM per_type UNION ALL SELECT * FROM merged),
    est AS (
      SELECT *,
             -- (k-1) * 2^60 overflows BIGINT: widen to HUGEINT for the
             -- exact integer floor-division (Spark side: decimal(38,0))
             CASE WHEN nd >= {_KMV_K}
                  THEN CAST(CAST({_KMV_K} - 1 AS HUGEINT) * {_KMV_DOMAIN}
                            // kth_hash AS BIGINT)
                  ELSE CAST(nd AS BIGINT) END AS est_distinct
      FROM u)
    SELECT scope,
           CAST({_KMV_K} AS BIGINT) AS k,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           est_distinct,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           round(100.0 * abs(est_distinct - exact_distinct)
                 / exact_distinct, 2) AS abs_err_pct
    FROM est
"""


@query("agg_kmv_theta_sketch", _SQL_KMV)
def agg_kmv_theta_sketch(spark, sf_dir):
    """K-minimum-values (theta) sketch — the third mergeable
    distinct-count sketch family alongside HLL (agg_hll_sketch) and
    roaring bitmaps (agg_bitmap_distinct): keep the k=32 smallest
    60-bit hashes per group; the k-th smallest estimates the distinct
    count as (k-1) * |domain| / kth_hash (the classic KMV estimator,
    here in EXACT integer division so both engines agree bit-for-bit).
    The '__merged' row demonstrates the property that makes sketches
    work at 100 TB: the global estimate is computed from the per-group
    k-min SETS alone (union, re-take k smallest) — never rescanning the
    raw stream — exactly how a 1000-executor rollup merges partial
    sketches at the driver.  Each row carries the exact distinct count
    and the relative error for calibration.  An UNSATURATED sketch
    (fewer than k distinct values) is the exact value set, so its row
    anchors on the largest seen hash and reports the exact count with
    zero error — the standard KMV small-cardinality convention.

    Plan shape: one (type, user) distinct pre-aggregation (map-side
    combine), a per-type window over at most the distinct keys, and a
    k-sized merged pool — shuffle volume is O(distinct), sketch state
    is O(k * groups).  Hash randomness is md5 (the repo convention), so
    the 'random' permutation is reproducible across engines."""
    ev = td(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    du = ev.select("event_type", "user_id").distinct()
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = du.select("event_type", hv.alias("hv"))
    w = Window.partitionBy("event_type").orderBy("hv")
    rk = h.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("nd"),
    )
    per_type = rk.filter(
        F.col("r") == F.least(F.lit(_KMV_K), F.col("nd"))
    ).select(
        F.col("event_type").alias("scope"),
        F.col("hv").alias("kth_hash"),
        F.col("nd").alias("nd"),
        F.col("nd").alias("exact_distinct"),
    )
    merged_pool = rk.filter(F.col("r") <= _KMV_K).select("hv").distinct()
    mrk = merged_pool.select(
        "hv",
        F.row_number().over(Window.orderBy("hv")).alias("r"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("pool_n"),
    )
    global_nd = F.broadcast(
        ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    merged = (
        mrk.filter(F.col("r") == F.least(F.lit(_KMV_K), F.col("pool_n")))
        .crossJoin(global_nd)
        .select(
            F.lit("__merged").alias("scope"),
            F.col("hv").alias("kth_hash"),
            F.least(F.lit(_KMV_K), F.col("pool_n")).cast("long").alias("nd"),
            F.col("exact_distinct"),
        )
    )
    u = per_type.unionByName(merged)
    # (k-1) * 2^60 overflows int64: carry the numerator as an exact
    # decimal(38,0) literal (the SQL twin widens to HUGEINT)
    numer = F.lit(str((_KMV_K - 1) * _KMV_DOMAIN)).cast("decimal(38,0)")
    est = numer / F.col("kth_hash").cast("decimal(38,0)")
    est_floor = F.when(
        F.col("nd") >= _KMV_K, F.floor(est).cast("long")
    ).otherwise(F.col("nd").cast("long"))
    return u.select(
        "scope",
        F.lit(_KMV_K).cast("long").alias("k"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        est_floor.alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.round(
            F.lit(100.0)
            * F.abs(est_floor - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            2,
        ).alias("abs_err_pct"),
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 |> operator chains)
# ---------------------------------------------------------------------------

_SQL_PIPE_ORACLE = """
    WITH base AS (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL),
    agg AS (
      SELECT event_type, day,
             count(*) AS n_events,
             sum(cents) AS total_cents
      FROM base GROUP BY event_type, day)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS peak_day_events,
           CAST(sum(total_cents) AS BIGINT) AS total_cents
    FROM agg
    WHERE n_events >= 5
    GROUP BY event_type
"""


@query("sql_pipe_syntax", _SQL_PIPE_ORACLE)
def sql_pipe_syntax(spark, sf_dir):
    """Spark 4's SQL pipe syntax (|> operator chains, from the
    SQL-has-problems-we-can-fix lineage of GoogleSQL): the same
    daily-rollup-then-refilter computation a nested-CTE query needs
    three levels for, written as one top-to-bottom pipeline — WHERE,
    EXTEND (compute day/cents), AGGREGATE ... GROUP BY (twice), with a
    mid-pipeline WHERE on an aggregate output where ANSI needs HAVING
    or a wrapping subquery.  The oracle is the equivalent ANSI form, so
    the gate proves pipe syntax is pure sugar over the same plan —
    Catalyst sees identical logical operators either way (same partial
    aggregation, same single shuffle per AGGREGATE).

    Every measure is integer (counts + cents), so the comparison is
    engine-exact."""
    td(spark, sf_dir, "events").createOrReplaceTempView("events_pipe")
    return spark.sql(
        """
        FROM events_pipe
        |> WHERE ts IS NOT NULL AND value IS NOT NULL
        |> EXTEND CAST(ts AS DATE) AS day,
                  CAST(round(value * 100) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n_events, sum(cents) AS total_cents
             GROUP BY event_type, day
        |> WHERE n_events >= 5
        |> AGGREGATE count(*) AS n_days,
                     sum(n_events) AS n_events,
                     max(n_events) AS peak_day_events,
                     sum(total_cents) AS total_cents
             GROUP BY event_type
        |> SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
                  n_events, peak_day_events, total_cents
        """
    )
