"""LLM-data-pipeline extension queries (SURVEY §2.K): dedup family,
similarity search, text analysis, multimodal plumbing — each over the
documents/embeddings testdata, oracle-checked wherever the computation is
engine-portable (hash-seeded ops are rows-only by nature).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.vectors import oracle_cosine, oracle_dot
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    hamming_band_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    token_jaccard_pairs,
)
from ..operators.multimodal import (
    attach_binary_payload,
    extract_fake_features,
    resize_media,
    sample_frames,
)
from ..operators.similarity import (
    cosine_knn_ivf,
    cosine_knn_bruteforce,
    cosine_knn_lsh,
    embedding_near_dup_pairs,
)
from ..sources import ensure_parallelism, load_table
from ._oracle_closure import oracle_closure
from .registry import register

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "ext_dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY text
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash group-by on text, deterministic survivor."""
    return exact_dedup(ensure_parallelism(load_table(spark, sf_dir, "documents")), ["text"], "doc_id")


@register(
    "ext_dedup_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, lang,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             AS jaccard
    FROM tok a
    JOIN tok b ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          >= 0.9
    """,
)
def ext_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked on (source, lang)."""
    return token_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), block_cols=("source", "lang"), threshold=0.9
    )


@register(
    "ext_dedup_ngram",
    oracle="""
    WITH sh AS (
      SELECT doc_id, source, lang,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 1, 0) + 1),
               i -> string_split(lower(text), ' ')[i] || ' ' ||
                    string_split(lower(text), ' ')[i + 1]
             )) AS grams
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             AS jaccard
    FROM sh a
    JOIN sh b ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          >= 0.8
    """,
)
def ext_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram shingle Jaccard near-dup pairs, blocked on
    (source, lang) — order-sensitive where token sets are not."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=2, block_cols=("source", "lang"), threshold=0.8
    )


@register("ext_dedup_minhash")  # hash-seeded -> rows-only check
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification (the
    100 TB path: banded candidate join, nothing quadratic). 5 bands x 6
    rows at theta=0.9; recall against the exact blockless Jaccard ground
    truth is pinned by tests/test_dedup_recall.py (see
    operators/dedup.py)."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=30, bands=5, threshold=0.9
    )


@register(
    "ext_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE tok AS MATERIALIZED (
      SELECT doc_id, source, lang,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    ),
    pr AS MATERIALIZED (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM tok a
      JOIN tok b ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            >= 0.9
    ),
    {oracle_closure()}
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    """,
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate CLUSTERS from the exact-Jaccard pair graph:
    connected components via iterative neighbor-min label propagation
    (operators.dedup.connected_components), cluster_id = min reachable
    doc_id. The step every dedup pipeline needs after pair generation —
    A~B, B~C collapse to one survivor even though A~C never scored. The
    oracle computes the same components as a recursive-CTE transitive
    closure (fine at oracle scale; the Spark path is the one that scales)."""
    pairs = token_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), block_cols=("source", "lang"), threshold=0.9
    )
    return connected_components(pairs)


@register("ext_dedup_simhash")  # hash-seeded -> rows-only check
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (Hamming <= 6)."""
    return simhash_near_dup_pairs(load_table(spark, sf_dir, "documents"), max_hamming=6)


_EMB_COS = oracle_cosine("a.embedding", "b.embedding")


@register(
    "ext_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label AS label,
           {_EMB_COS} AS score
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_EMB_COS} >= 0.3
    """,
)
def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (exact fold —
    bitwise-identical to the oracle)."""
    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.3)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_NORM = f"sqrt({oracle_dot('embedding', 'embedding')})"


@register(
    "ext_vector_normalize",
    oracle=f"""
    SELECT vec_id,
           {_NORM} AS l2_norm,
           generate_subscripts(embedding, 1) - 1 AS pos,
           unnest(list_transform(embedding, x -> x::DOUBLE / {_NORM}))
             AS component
    FROM embeddings WHERE vec_id < 200
    """,
)
def ext_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — the prep step before
    cosine kNN/dedup (normalized vectors turn cosine into a plain dot
    product, halving the fold work in every downstream comparison). The
    norm is the same strict left-to-right fold as functions.vectors.dot,
    so Spark and DuckDB produce bit-identical doubles; per-element
    division is one deterministic double op. All JVM higher-order
    functions — no Python; the unit vector is emitted EXPLODED as
    (vec_id, pos, component) rows: float components stay native doubles
    at the comparison boundary (an array column would be re-rendered
    differently by the two engines' dataframe bridges — same trap as
    decimal outputs, see queries/registry.py)."""
    from ..functions.vectors import dot, to_double_vec

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    vec = to_double_vec(F.col("embedding"))
    norm = F.sqrt(dot(vec, vec))
    return emb.select(
        "vec_id",
        norm.alias("l2_norm"),
        F.posexplode(F.transform(vec, lambda x: x / norm)).alias("pos", "component"),
    )

_KNN_COS = oracle_cosine("q.qe", "v.embedding")


@register(
    "ext_knn_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8
    ), scored AS (
      SELECT q.query_id, v.vec_id AS nbr_id, {_KNN_COS} AS score
      FROM embeddings v JOIN q ON v.vec_id <> q.query_id
    )
    SELECT query_id, nbr_id, score, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ext_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (id < 8): broadcast
    queries over the corpus scan, per-query TakeOrdered."""
    return cosine_knn_bruteforce(
        load_table(spark, sf_dir, "embeddings"), query_ids_below=8, k=5
    )


@register("ext_knn_lsh")  # approximate recall -> rows-only check
def ext_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane bucketing."""
    return cosine_knn_lsh(load_table(spark, sf_dir, "embeddings"), query_ids_below=8, k=5)


@register("ext_knn_pq")  # approximate recall -> rows-only check
def ext_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via product quantization with exact
    re-rank (operators/similarity.py:cosine_knn_pq) — the compressed-
    storage ANN path: 8-byte codes instead of 256-byte vectors at scan
    time, asymmetric-distance lookups, top rerank*k re-ranked exactly.
    Config sits at the measured knee of tools/ann_recall_sweep.py at
    sf0.1 (README table): codebook_k=32 halves quantization error where
    it matters (uniform-random fixtures are the PQ worst case) and
    rerank=32 bounds the exact pass at 160 vectors/query — recall@5
    0.875 vs the old (16, 16)'s 0.55, same wall within noise."""
    from ..operators.similarity import cosine_knn_pq

    return cosine_knn_pq(
        load_table(spark, sf_dir, "embeddings"),
        query_ids_below=8,
        k=5,
        codebook_k=32,
        rerank=32,
    )


@register("ext_knn_ivf")  # approximate recall -> rows-only check
def ext_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via IVF: KMeans cells + nprobe search
    (operators/similarity.py:cosine_knn_ivf). nprobe=10/16 sits at the
    measured recall knee (tools/ann_recall_sweep.py at sf0.1, README
    table: 0.925 recall@5; 0.800 at 8/16, 0.725 at the old 6/16 — the
    fixture's embeddings are uniform random, the ANN worst case, so
    these floors understate clustered-corpus behavior). Probe wall is flat across
    nprobe at fixture scale; at 100 TB nprobe/nlist is the scan
    fraction, and a real deployment raises nlist with corpus size
    (nlist ~ sqrt(N)) instead of probing most of 16 cells."""
    return cosine_knn_ivf(
        load_table(spark, sf_dir, "embeddings"), query_ids_below=8, k=5, nlist=16, nprobe=10
    )



# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "ext_text_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(lower(text), ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY lang, source
    """,
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source): doc/char/token totals."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = TX.token_count(F.col("text")).cast("long")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(tok).alias("total_tokens"),
        (F.sum(tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


@register(
    "ext_langid",
    oracle=f"""
    SELECT doc_id, lang AS actual_lang,
           {TX.oracle_predicted_lang("text")} AS predicted_lang,
           CASE WHEN {TX.oracle_predicted_lang("text")} = lang THEN 1 ELSE 0 END AS agree
    FROM documents
    """,
)
def ext_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language-ID heuristic with deterministic argmax."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pred = TX.predicted_lang(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("predicted_lang"),
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("agree"),
    )


@register(
    "ext_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
           {TX.oracle_quality_score("text")} AS quality
    FROM documents
    """,
)
def ext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic [0,1] quality heuristic (length/punct/stopwords)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.quality_score(F.col("text")).alias("quality"),
    )


@register(
    "ext_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{TX.TOKEN_REGEX}')) AS INT) AS n_tokens_regex
    FROM documents
    """,
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish-regex token counts."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens_ws"),
        TX.regex_token_count(F.col("text")).alias("n_tokens_regex"),
    )


@register(
    "ext_fingerprint",
    oracle=f"""
    SELECT doc_id, {TX.oracle_fingerprint("text")} AS fingerprint
    FROM documents
    """,
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (exact int64 fold)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "ext_multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(length(text) AS INT) AS n_bytes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> acc + x) % 2147483647 AS checksum,
           unnest(list_transform(range(0, {8}), j ->
             CAST((((list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, x) -> acc + x) % 2147483647) * 31 + j) % 997) AS DOUBLE) / 997.0
           )) AS feature,
           generate_subscripts(range(0, {8}), 1) - 1 AS pos
    FROM documents
    """,
)
def ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload media pipeline: documents -> opaque binary + metadata
    -> Arrow-batched mapInPandas feature extraction (decode stage stubbed,
    see operators.multimodal). Oracle-checkable because the fake decode is
    byte arithmetic over ASCII payloads. Feature lanes are emitted
    EXPLODED as (media_id, pos, feature) rows so float components stay
    native doubles at the comparison boundary (array columns are
    re-rendered differently by the engines' dataframe bridges — the
    decimal trap, queries/registry.py)."""
    media = attach_binary_payload(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    feats = extract_fake_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "checksum",
        F.posexplode("fake_embedding").alias("pos", "feature"),
    )


@register(
    "ext_multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(length(text) AS INT) AS orig_bytes,
           CAST(least(length(text), 64) AS INT) AS resized_bytes
    FROM documents
    """,
)
def ext_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage (operators.multimodal.resize_media): binary in ->
    size-capped binary out; size metadata is oracle-checkable."""
    media = attach_binary_payload(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    return resize_media(media, target_bytes=64).select(
        "media_id", "orig_bytes", "resized_bytes"
    )


@register(
    "ext_multimodal_frames",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(j AS INT) AS frame_no,
           CAST(greatest(length(text) // 4, 1) AS INT) AS frame_bytes
    FROM documents, (SELECT unnest(range(0, 4)) AS j)
    WHERE j * greatest(length(text) // 4, 1) < length(text)
    """,
)
def ext_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding frame sampling: blob -> 4 evenly-spaced frames via
    mapInPandas (operators.multimodal.sample_frames); frame sizes are
    oracle-checkable byte arithmetic."""
    media = attach_binary_payload(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    frames = sample_frames(media, n_frames=4)
    return frames.where(F.length("frame") > 0).select(
        "media_id", "frame_no", F.length("frame").cast("int").alias("frame_bytes")
    )


@register(
    "ext_multimodal_decode",
    oracle="""
    WITH g AS (
      SELECT d.doc_id AS media_id, x.x, y.y
      FROM documents d
      CROSS JOIN generate_series(0, 7) AS x(x)
      CROSS JOIN generate_series(0, 7) AS y(y)
      WHERE d.doc_id < 200
    )
    SELECT media_id,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           AVG(CAST((media_id * 7 + x * 3 + y * 5) % 256 AS DOUBLE)) AS mean_r,
           AVG(CAST((media_id * 7 + x * 3 + y * 5 + 11) % 256 AS DOUBLE)) AS mean_g,
           AVG(CAST((media_id * 7 + x * 3 + y * 5 + 22) % 256 AS DOUBLE)) AS mean_b
    FROM g GROUP BY media_id
    """,
)
def ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: render a deterministic 8x8 P6
    (binary RGB PPM) per document id, then parse the actual bytes back
    — magic/dims/maxval header, raw raster — with the pure-numpy Netpbm
    decoder (operators/multimodal.py:decode_media) and emit per-channel
    means. The oracle recomputes the means closed-form from the pixel
    formula, so a decoder that misparses the header, strides the raster
    wrong, or swaps channels fails the hash check. Both stages are
    partition-preserving Arrow-batched mapInPandas — constant memory,
    no shuffle at any corpus size (integer pixel sums are exact in
    float64 at any summation order, so means compare bit-identically)."""
    from ..operators.multimodal import image_channel_stats, render_ppm_media

    ids = ensure_parallelism(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    return image_channel_stats(render_ppm_media(ids))


@register(
    "ext_multimodal_thumbnail",
    oracle="""
    WITH g AS (
      SELECT d.doc_id AS media_id, x.x, y.y
      FROM documents d
      CROSS JOIN generate_series(0, 3) AS x(x)
      CROSS JOIN generate_series(0, 3) AS y(y)
      WHERE d.doc_id < 200
    )
    SELECT media_id,
           CAST(4 AS INT) AS thumb_w,
           CAST(4 AS INT) AS thumb_h,
           AVG(CAST((media_id * 7 + (2*x) * 3 + (2*y) * 5) % 256 AS DOUBLE)) AS mean_r,
           AVG(CAST((media_id * 7 + (2*x) * 3 + (2*y) * 5 + 11) % 256 AS DOUBLE)) AS mean_g,
           AVG(CAST((media_id * 7 + (2*x) * 3 + (2*y) * 5 + 22) % 256 AS DOUBLE)) AS mean_b
    FROM g GROUP BY media_id
    """,
)
def ext_multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL thumbnailing end-to-end: render P6 bytes, decode with the
    numpy Netpbm parser, nearest-neighbor subsample 8x8 -> 4x4 (output
    pixel (x,y) = input (2x,2y) — a strided numpy view, no resampling
    kernel), and emit the thumbnail's channel means. The oracle
    recomputes the means from the pixel formula at the STRIDED
    coordinates, so an off-by-one in the stride or a wrong raster
    orientation fails the hash. Partition-preserving mapInPandas
    (decode->view->stats fused in one pass, no shuffle)."""
    from ..operators.multimodal import render_ppm_media, thumbnail_stats

    ids = ensure_parallelism(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    return thumbnail_stats(render_ppm_media(ids), stride=2)


@register(
    "ext_multimodal_audio",
    oracle="""
    WITH g AS (
      SELECT d.doc_id AS media_id, n.n
      FROM documents d
      CROSS JOIN generate_series(0, 63) AS n(n)
      WHERE d.doc_id < 200
    )
    SELECT media_id,
           CAST(64 AS INT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           AVG(CAST((media_id * 13 + n * 7) % 2001 - 1000 AS DOUBLE)) AS mean_amp,
           CAST(MAX(ABS((media_id * 13 + n * 7) % 2001 - 1000)) AS INT) AS peak_amp
    FROM g GROUP BY media_id
    """,
)
def ext_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: render a 16-bit mono PCM WAV per
    id (RIFF container with fmt/data chunks), parse the actual bytes
    back with the pure-numpy RIFF chunk walker (decode_wav), and emit
    per-clip amplitude stats. The oracle recomputes them closed-form
    from the sample formula — a decoder that misreads chunk sizes,
    byte order, or sample width fails the hash. Same constant-memory
    mapInPandas shape as the image path."""
    from ..operators.multimodal import audio_stats, render_wav_media

    ids = ensure_parallelism(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    return audio_stats(render_wav_media(ids))


def _phash_gray_sql(xe: str, *, corrupt_odd: bool) -> str:
    """Closed-form SQL for the textured render's integer luminance at
    column x-expression ``xe`` (sum over the three channel offsets) —
    the oracle twin of render_ppm_textured + dhash_media's gray."""
    b = "((d.doc_id // 2) * 2)" if corrupt_odd else "d.doc_id"
    terms = []
    for off in (0, 11, 22):
        v = f"({b}*7 + ({xe})*3 + y.y*5 + ({xe})*y.y*13 + {off})"
        if corrupt_odd:
            terms.append(
                f"(CASE WHEN d.doc_id % 2 = 1 AND y.y = ({b}*11) % 8 "
                f"AND ({xe}) = 1 + ({b}*5) % 6 "
                f"THEN ({v} + 128) % 256 ELSE {v} % 256 END)"
            )
        else:
            terms.append(f"({v} % 256)")
    return "(" + " + ".join(terms) + ")"


def _phash_hash_cte(*, corrupt_odd: bool) -> str:
    gx = _phash_gray_sql("x.x", corrupt_odd=corrupt_odd)
    gx1 = _phash_gray_sql("x.x + 1", corrupt_odd=corrupt_odd)
    return f"""
    h AS (
      SELECT d.doc_id AS media_id,
             CAST(SUM(CASE WHEN {gx} > {gx1}
                  THEN (CAST(1 AS BIGINT) << (y.y*7 + x.x)) ELSE 0 END)
               AS BIGINT) AS dhash
      FROM documents d
      CROSS JOIN generate_series(0, 7) AS y(y)
      CROSS JOIN generate_series(0, 6) AS x(x)
      GROUP BY 1
    )"""


@register(
    "ext_multimodal_phash_dedup",
    oracle=f"""
    WITH {_phash_hash_cte(corrupt_odd=False)},
    g AS (SELECT dhash, MIN(media_id) AS keep_id, COUNT(*) AS group_n
          FROM h GROUP BY 1)
    SELECT h.media_id, h.dhash, g.group_n, h.media_id = g.keep_id AS keep
    FROM h JOIN g USING (dhash)
    """,
)
def ext_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end — the first tier every
    image-corpus pipeline runs: render REAL P6 bytes per document,
    decode them with the pure-numpy Netpbm parser, dHash each image
    (one bit per horizontally-adjacent luminance pair, 56-bit BIGINT
    fingerprint — operators/multimodal.py:dhash_media), then greedy
    min-id dedup on the hash. The TEXTURED render formula keeps the
    hash informative (93 distinct hashes / largest bucket 22 on 500
    ids — the smooth formula's monotone rows hash 71% of the corpus to
    literally 0), ids congruent mod 256 still render IDENTICAL images,
    and the oracle recomputes every hash bit closed-form from the
    formula — a decoder stride bug, a channel swap, or a bit-packing
    error all flip hashes and fail the check.

    Scale: decode + hash is map-side Arrow streaming (constant memory,
    no shuffle); dedup is ONE group-by on a 64-bit key plus a
    broadcastable group join — the same linear shape as ext_dedup_exact,
    applied to pixels instead of text. Hamming-tolerant pairing would
    reuse the SimHash banded join on the same fingerprint column."""
    from ..operators.multimodal import dhash_media, render_ppm_textured

    ids = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    h = dhash_media(render_ppm_textured(ids))
    g = h.groupBy("dhash").agg(
        F.min("media_id").alias("keep_id"), F.count(F.lit(1)).alias("group_n")
    )
    return h.join(g, "dhash").select(
        "media_id",
        "dhash",
        "group_n",
        (F.col("media_id") == F.col("keep_id")).alias("keep"),
    )


@register(
    "ext_multimodal_phash_near_dup",
    oracle=f"""
    WITH {_phash_hash_cte(corrupt_odd=True)}
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
)
def ext_multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-tolerant perceptual near-dup pairing — the second image
    dedup tier, catching re-encodes and slightly-corrupted copies that
    exact-hash dedup misses. Fixture: every ODD id renders its even
    twin's image with one strongly bumped pixel (render_ppm_textured
    corrupt_odd), so each (2k, 2k+1) pair is a true near-dup within
    Hamming<=2; the query reports all pairs at Hamming<=3.

    The pair search is SimHash's banded pair join
    (operators/dedup.hamming_band_pairs) on the 56-bit dHash:
    4 disjoint 14-bit bands, candidates from per-band equi-joins only
    — by pigeonhole, <=3 flipped bits cannot dirty all 4 bands, so
    banding is COMPLETE at this threshold and the semantics stay
    exactly 'all pairs with Hamming<=3' (the oracle is the plain
    quadratic self-join — fine over 500 rows, while the engine side
    never goes all-pairs). Each pair is emitted at its FIRST colliding
    band (earlier-band hashes ride along; no distinct() shuffle), then
    verified with one xor+popcount. Scale: decode+hash map-side; the
    banded self-join is an equi-join on (band, 14-bit value) — linear
    in true collisions, the same shape the text near-dup tiers run."""
    from ..operators.multimodal import dhash_media, render_ppm_textured

    ids = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    h = dhash_media(render_ppm_textured(ids, corrupt_odd=True))
    return hamming_band_pairs(
        h, "media_id", "dhash", bands=4, width=14, max_hamming=3
    ).select(
        F.col("media_id_a").alias("id_a"),
        F.col("media_id_b").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


@register(
    "ext_multimodal_spectrum",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(64 AS INT) AS n_samples,
           CAST(1 + doc_id % 31 AS INT) AS dominant_bin,
           CAST((1 + doc_id % 31) * 8000 AS DOUBLE) / 64.0 AS dominant_hz
    FROM documents WHERE doc_id < 200
    """,
)
def ext_multimodal_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction end-to-end: render pure-tone PCM
    WAVs (each tone at an exact FFT bin, 1 + id % 31 cycles/clip),
    decode the RIFF bytes back, run a per-clip numpy rFFT, and emit the
    dominant non-DC spectral bin + frequency. Because the rendered
    frequency sits ON a bin, the spectrum is analytically known and the
    oracle states the argmax closed-form — a decoder, FFT windowing, or
    bin-indexing bug fails the hash. Same constant-memory mapInPandas
    shape as the image feature path; dominant_hz = (bin*8000)/64 is an
    exact integer-valued double on both engines."""
    from ..operators.multimodal import render_tone_media, spectral_peak

    ids = ensure_parallelism(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    return spectral_peak(render_tone_media(ids))


@register("ext_knn_ivf_persisted")  # approximate recall -> rows-only check
def ext_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index spelling of ext_knn_ivf: build the IVF layout
    on disk once (cell-partitioned vectors + centroid side table,
    operators/ann_index.py), then answer the same queries by probing the
    index — no re-clustering, and the cells scan is PRUNED to the
    probed partitions, so a probe reads ~nprobe/nlist of the index
    bytes. This is the serving shape a 100 TB vector store runs: the
    build cost amortizes over every later probe. Index cached per
    (sf_dir, source fingerprint) within a session (the star-ETL
    warehouse precedent): the key folds in the embeddings parquet's
    size+mtime, so regenerating the corpus under the same path
    invalidates the cache instead of silently serving a stale index."""
    import tempfile

    from ..operators.ann_index import build_ivf_index, probe_ivf_index

    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    # isfile decides the key shape: os.stat SUCCEEDS on a directory (its
    # inode's size/mtime don't change when files are rewritten in place,
    # so a dir stat is a stale-serving trap, round-5 ADVICE) — only a
    # single-file table gets the content fingerprint; directory-style or
    # remote tables take the path-only key.
    if os.path.isfile(src):
        st = os.stat(src)
        fp = (st.st_size, st.st_mtime_ns)
    else:
        fp = None
    key = (sf_dir.rstrip("/"), fp)
    idx = _IVF_INDEX_CACHE.get(key)
    if idx is None or not os.path.isdir(f"{idx}/cells"):
        idx = tempfile.mkdtemp(prefix="ivf_index_")
        _IVF_INDEX_DIRS.append(idx)  # reaped at interpreter exit
        build_ivf_index(
            load_table(spark, sf_dir, "embeddings"), idx, nlist=16, seed=42
        )
        _IVF_INDEX_CACHE[key] = idx
    queries = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 8)
    # nprobe=10: the measured recall knee (0.925 recall@5 at sf0.1,
    # tools/ann_recall_sweep.py; README table) — probe wall unchanged
    return probe_ivf_index(spark, idx, queries, k=5, nprobe=10)


_IVF_INDEX_CACHE: dict = {}
_IVF_INDEX_DIRS: list = []


def _reap_ivf_index_dirs() -> None:
    import shutil

    for d in _IVF_INDEX_DIRS:
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402  (registration belongs next to the dir list)

atexit.register(_reap_ivf_index_dirs)


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------


@register(
    "ext_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qv
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS MATERIALIZED (
      SELECT q.qid, q.qlabel, e.vec_id AS nid, e.label AS nlabel,
             {oracle_cosine("e.embedding", "q.qv")} AS cos
      FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid, (nlabel = qlabel)
        ORDER BY cos DESC, nid ASC) AS rn
      FROM scored
    )
    SELECT qid AS query_id, CAST(qlabel AS INT) AS label,
           COALESCE(MAX(CASE WHEN nlabel = qlabel THEN nid END), -1)
             AS pos_id,
           COALESCE(MAX(CASE WHEN nlabel = qlabel THEN cos END), -2.0)
             AS pos_cos,
           COALESCE(MAX(CASE WHEN nlabel <> qlabel THEN nid END), -1)
             AS neg_id,
           COALESCE(MAX(CASE WHEN nlabel <> qlabel THEN cos END), -2.0)
             AS neg_cos,
           COALESCE(MAX(CASE WHEN nlabel = qlabel THEN cos END), -2.0)
             - COALESCE(MAX(CASE WHEN nlabel <> qlabel THEN cos END), -2.0)
             AS margin
    FROM ranked WHERE rn = 1
    GROUP BY qid, qlabel
    """,
)
def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    query vector (vec_id < 8), the most-similar vector of the SAME
    label (the positive) and the most-similar vector of a DIFFERENT
    label (the hard negative — the example contrastive/triplet losses
    learn the most from), plus the margin between them. Exact cosine
    (left-to-right fold), doc-id tiebreaks, -1/-2.0 sentinels when a
    class has no counterpart (never NULL — driver hash contract).

    Scale shape: the query side broadcasts (k rows) so scoring is one
    map-only corpus pass — the ext_knn_bruteforce plan; the per-(query,
    same-label) argmax is a window over k x 2 partition keys; output is
    k rows. Mining against a billion-vector corpus is the same single
    scan."""
    from ..functions.vectors import cosine, to_double_vec

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        to_double_vec(F.col("embedding")).alias("qv"),
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "qlabel",
        F.col("vec_id").alias("nid"),
        (F.col("label") == F.col("qlabel")).alias("same"),
        cosine(to_double_vec(F.col("embedding")), F.col("qv")).alias("cos"),
    )
    w = Window.partitionBy("qid", "same").orderBy(F.desc("cos"), F.asc("nid"))
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    pos_cos = F.coalesce(F.max(F.when(F.col("same"), F.col("cos"))), F.lit(-2.0))
    neg_cos = F.coalesce(F.max(F.when(~F.col("same"), F.col("cos"))), F.lit(-2.0))
    return best.groupBy(
        F.col("qid").alias("query_id"), F.col("qlabel").cast("int").alias("label")
    ).agg(
        F.coalesce(F.max(F.when(F.col("same"), F.col("nid"))), F.lit(-1)).alias(
            "pos_id"
        ),
        pos_cos.alias("pos_cos"),
        F.coalesce(F.max(F.when(~F.col("same"), F.col("nid"))), F.lit(-1)).alias(
            "neg_id"
        ),
        neg_cos.alias("neg_cos"),
        (pos_cos - neg_cos).alias("margin"),
    )
