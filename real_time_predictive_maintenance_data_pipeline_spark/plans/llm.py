"""LLM-data-pipeline query catalog: dedup, similarity search, text
analysis, multimodal columns (charter §"beyond the reference").

Runs over the `documents` / `embeddings` fixture tables. SQL-expressible
semantics carry a DuckDB oracle; LSH/ML-backed ops are rows-only here
with accuracy assertions in tests/ (recall vs the exact baselines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..operators import multimodal as M
from ..ml import artifact as ART
from ..operators import similarity as S
from ..operators.spread import spread
from ..sources.tables import load_table
from .registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the cluster when the scan under-splits.

    A small corpus lands in 1-2 parquet scan partitions (row groups
    don't split), which would serialize every downstream higher-order
    string expression onto one core. Repartition ONLY in that case —
    the shuffle moves raw (id, text) rows once and every doc_* plan
    inherits the spread. At real scale the scan already yields >= cores
    partitions and this is a no-op (no shuffle added)."""
    return spread(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "doc_token_stats",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER)                AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
       ROUND(list_reduce(list_prepend(0, list_transform(string_split(text, ' '),
                 w -> length(w))), (a, b) -> a + b) * 1.0
             / len(string_split(text, ' ')), 4)                     AS avg_token_len,
       n_chars
FROM documents
""",
    tags=("text",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) — per-row, shuffle-free."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.size(T.distinct_tokens("text")).alias("n_distinct"),
        T.avg_token_len("text").alias("avg_token_len"),
        "n_chars",
    )


@register(
    "doc_quality",
    oracle="""
SELECT doc_id, lang,
       ROUND(0.5 * LEAST(1.0, len(string_split(text, ' ')) / 50.0)
           + 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                    / len(string_split(text, ' '))), 4) AS quality
FROM documents
""",
    tags=("text",),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + repetitiveness composite in [0,1]."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", T.quality_score("text").alias("quality"))


@register(
    "doc_langid",
    oracle="""
SELECT lang,
       CASE WHEN len(list_filter(string_split(text, ' '),
                 w -> w IN ('the', 'a', 'of', 'and', 'to'))) >= 1
            THEN 'en' ELSE 'und' END AS lang_guess,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2
""",
    tags=("text",),
)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword vote) vs the labeled lang column."""
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", T.langid_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          w -> CAST(ascii(w) * 31 + length(w) AS BIGINT))),
         (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
FROM documents
""",
    tags=("text",),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash document fingerprint."""
    return _docs(spark, sf_dir).select("doc_id", T.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
""",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha2(text) (shuffle carries digests,
    not documents)."""
    return D.exact_dedup(_docs(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS words
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.words, b.words)) * 1.0
             / len(list_distinct(list_concat(a.words, b.words))), 4) AS jaccard
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE ROUND(len(list_intersect(a.words, b.words)) * 1.0
            / len(list_distinct(list_concat(a.words, b.words))), 4) >= 0.9
""",
    bench=True,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs, lang-blocked (quadratic
    within block only)."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.9)


@register("dedup_minhash_lsh", oracle=None, bench=True, tags=("dedup", "approx", "caches"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH near-dup pairs (approx candidates, exact
    verify, Jaccard ≥ 0.9). Rows-only check; recall vs the exact
    jaccard pairs is asserted in tests."""
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_threshold=0.9).select(
        "doc_a", "doc_b"
    )


@register("dedup_simhash", oracle=None, tags=("dedup", "approx"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (64-bit) for every document — deterministic,
    JVM-side expression; pair-generation covered in tests."""
    return D.simhash_signatures(_docs(spark, sf_dir))


@register(
    "dedup_embedding_pairs",
    oracle="""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) >= 0.4
""",
    tags=("dedup", "similarity"),
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force baseline; LSH
    variant is `sim_lsh_pairs`)."""
    return S.cosine_pairs(_embs(spark, sf_dir), threshold=0.4)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "sim_topk_bruteforce",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, ROUND(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS score
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, score,
       ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rank
FROM scored ORDER BY score DESC, vec_id LIMIT 10
""",
    bench=True,
    tags=("similarity",),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vec 0 (brute-force ANN baseline)."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # corpus side spread (r16): the scan under-splits locally, which
    # serializes the map-side scoring onto 1-2 cores; the tiny query
    # side stays unspread so its broadcast never pays a shuffle
    return S.brute_force_topk(spread(e), q, k=10).select("vec_id", "score", "rank")


@register(
    "sim_knn_batch",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS score
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
)
SELECT * FROM (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 3
""",
    bench=True,
    tags=("similarity",),
)
def sim_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN: top-3 neighbors for each of 20 query vectors.
    Query side broadcast; scoring is map-side; one window shuffle."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # corpus side spread (r16): measured 0.94 -> 0.65 s at sf0.1 — the
    # 20-query map-side scoring otherwise runs on the 1-partition scan
    return S.brute_force_topk(spread(e), q, k=3)


@register("sim_ann_lsh", oracle=None, tags=("similarity", "approx"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via BucketedRandomProjectionLSH (scale path).
    Rows-only; recall vs brute force asserted in tests."""
    e = _embs(spark, sf_dir)
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    if row is None:
        # query vector absent (empty/filtered corpus): no neighbors is
        # the correct result, not a driver-side TypeError
        return spark.createDataFrame([], "vec_id long, dist double")
    return S.lsh_topk(e, list(row[0]), k=10)


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@register(
    "mm_binary_stats",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       ascii(text)                                  AS first_byte
FROM documents
""",
    tags=("multimodal",),
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload plumbing: encode → BinaryType column → byte stats
    (JVM-side; the Python decode path is `mm_feature_extract`)."""
    d = M.attach_binary_payload(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.ascii("text").alias("first_byte"),
    )


@register(
    "mm_feature_extract",
    oracle="""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), c AS (
  SELECT doc_id, n,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, LEAST(n, 64)),
               i -> CAST(CAST(concat('0x', substring(hx, 2*i+1, 2)) AS INTEGER) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 1000000007) AS checksum
  FROM h
)
SELECT doc_id, CAST(n AS INTEGER) AS n_bytes, checksum,
       CAST(16 + n % 64 AS INTEGER) AS fake_width,
       CAST(16 + checksum % 64 AS INTEGER) AS fake_height
FROM c
""",
    tags=("multimodal",),
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (decode step is a deterministic stub — no media codecs in container,
    so the fake decode is byte arithmetic the DuckDB oracle replicates
    via hex-pair extraction + list_reduce: a full hash check on a
    Python-UDF operator output)."""
    d = M.attach_binary_payload(_docs(spark, sf_dir))
    return M.extract_features(d)


def _recall_gated(
    approx: DataFrame, exact: DataFrame, k: int, floor: float
) -> DataFrame:
    """Recall-ε-gate composition for the ANN entries (r16, the
    ``rel_approx_distinct`` pattern applied to similarity search): the
    approximate result itself is not SQL-expressible (trained
    structures + LUT gathers), but the EXACT top-k it approximates is,
    and the quality claim — mean recall@k across the query set clears
    a measured floor — is a deterministic boolean (every structure in
    the plan is pinned/layout-deterministic since r15, and the
    fixtures are seeded), so the driver can hash it. Output: one row
    per query with the exact rank-ordered neighbor ids (the oracle
    recomputes those in DuckDB — a full exact-ANN hash check) plus the
    in-plan gate verdict.

    The mean (not per-query) recall is gated: per-query recall on
    near-random fixture vectors is high-variance by nature (min 0.0
    at sf0.1 for IVF) while the mean is stable across the 100× SF
    span — the floor is measured-minimum minus a wide margin, and the
    per-entry docstrings record both numbers."""
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) / k).alias("__recall"))
    )
    per = (
        exact.groupBy("query_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "vec_id"))),
                    lambda s: s["vec_id"].cast("string"),
                ),
            ).alias("exact_ids"),
            F.count(F.lit(1)).alias("n_exact"),
        )
        .join(hits, "query_id", "left")
        .withColumn("__recall", F.coalesce("__recall", F.lit(0.0)))
    )
    mean = per.agg(F.avg("__recall").alias("__mean"))
    # one-row aggregate frame: the module's established crossJoin shape
    return per.crossJoin(F.broadcast(mean)).select(
        "query_id",
        "exact_ids",
        "n_exact",
        (F.col("__mean") >= floor).alias("recall_ok"),
    )


@register(
    "sim_ivf_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS score
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
),
topk AS (
  SELECT * FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= 3
)
SELECT query_id,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rank) AS exact_ids,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM topk GROUP BY query_id
""",
    tags=("similarity", "approx"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over PINNED coarse-quantizer centroids (r15): the
    train-once → persist (``ml.artifact.pinned``) → load contract IS
    the query path — the search plan never retrains per run/layout
    (the r14 layout audit showed in-query kmeans|| init is partition-
    order dependent even seeded). The pinned artifact is keyed by a
    layout-insensitive content fingerprint, and training itself
    (``ivf_train_centroids``: content-ordered sample + canonical-sorted
    Lloyd) is deterministic, so the artifact is reproducible, not just
    frozen.

    Recall-ε-GATED hash-green since r16 (``_recall_gated``): the
    oracle recomputes the exact cosine top-3 per query and the driver
    hashes the in-plan claim that IVF at nprobe/nlist = 6/16 recovers
    it with mean recall ≥ 0.5 — measured mean 0.750 / 0.733 / 0.683 at
    sf0.001/0.01/0.1 (near-random vectors, the IVF worst case; random
    would be ~0.002)."""
    e = _embs(spark, sf_dir)
    fp = ART.dataset_fingerprint(e, "vec_id", "embedding")
    cent_rows = ART.pinned(
        ART.trainer_key("ivf_nlist16", "ivf_train_centroids", fp),
        lambda: [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in S.ivf_train_centroids(e, nlist=16).collect()
        ],
    )
    cents = spark.createDataFrame(
        cent_rows, schema="cell INT, centroid ARRAY<DOUBLE>"
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = S.ivf_topk(e, q, k=3, nlist=16, nprobe=6, centroids=cents)
    exact = S.brute_force_topk(e, q, k=3)
    return _recall_gated(ivf, exact, k=3, floor=0.5)


@register(
    "mm_resize",
    oracle="""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), p AS (
  SELECT doc_id, hx, n, GREATEST(1, n // 1024) AS stride FROM h
)
SELECT doc_id, 1024 AS n_bytes, 32 AS width, 32 AS height,
       CAST(list_sum(list_transform(range(0, 16),
         i -> CASE WHEN i * stride < n
                   THEN CAST(CAST(concat('0x', substring(hx, 2*i*stride+1, 2)) AS INTEGER) AS BIGINT)
                   ELSE 0 END)) AS BIGINT) AS out16
FROM p
""",
    tags=("multimodal",),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub resize (binary→binary mapInPandas, 1:1). The output payload
    is always width*height bytes (strided sample of the source,
    zero-padded); ``out16`` — the sum of the first 16 OUTPUT bytes,
    extracted JVM-side via hex/conv — lets the DuckDB oracle verify the
    stride sampling byte-exactly, upgrading this from a rows-only
    check."""
    d = M.attach_binary_payload(_docs(spark, sf_dir))
    out = M.resize_stub(d, width=32, height=32)
    hx = F.hex("payload")
    out16 = None
    for i in range(16):
        term = F.conv(F.substring(hx, 2 * i + 1, 2), 16, 10).cast("long")
        out16 = term if out16 is None else out16 + term
    return out.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        "width",
        "height",
        out16.alias("out16"),
    )


@register(
    "mm_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         CAST(GREATEST(1, CEIL(octet_length(encode(text)) / 256.0)) AS INT) AS n_frames
  FROM documents
),
u AS (
  SELECT doc_id, n,
         CAST(UNNEST(range(0, n_frames, 4)) AS INTEGER) AS frame_idx
  FROM f
)
SELECT doc_id, frame_idx,
       CAST(LEAST(256, n - frame_idx * 256) AS INTEGER) AS frame_bytes
FROM u
""",
    tags=("multimodal",),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub frame sampling (binary→many-rows mapInPandas): every 4th
    256-byte frame. Frame accounting is deterministic, so the 1→many
    row shape is fully oracle-checked."""
    d = M.attach_binary_payload(_docs(spark, sf_dir))
    return M.frame_sample(d, every_n=4)


@register(
    "doc_token_regex",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_ish,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws
FROM documents
""",
    tags=("text",),
)
def doc_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs / single
    punctuation) next to the whitespace count — both JVM-side regex,
    per-row, shuffle-free."""
    d = _docs(spark, sf_dir)
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias("n_bpe_ish"),
        F.size(F.split("text", " ")).alias("n_ws"),
    )


@register(
    "doc_punct_ratio",
    oracle="""
SELECT doc_id,
       ROUND(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
             / length(text), 4) AS punct_ratio,
       ROUND(length(regexp_replace(text, '[^ ]', '', 'g')) * 1.0
             / length(text), 4) AS space_ratio
FROM documents WHERE length(text) > 0
""",
    tags=("text",),
)
def doc_punct_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation / whitespace density (quality-scoring signals)."""
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    space = F.length(F.regexp_replace("text", r"[^ ]", ""))
    return d.select(
        "doc_id",
        F.round(punct.cast("double") / F.length("text"), 4).alias("punct_ratio"),
        F.round(space.cast("double") / F.length("text"), 4).alias("space_ratio"),
    )


@register("dedup_clusters", oracle=None, tags=("dedup", "approx", "caches"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster summary: LSH pairs → connected components →
    per-cluster size + keeper. Iterative (label propagation) — rows-only;
    exact component structure asserted vs union-find in tests."""
    labels = D.near_dup_clusters(_docs(spark, sf_dir), jaccard_threshold=0.9)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keeper_id"),
    )


@register(
    "doc_top_terms",
    oracle="""
WITH tok AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS term FROM documents
),
counted AS (
  SELECT lang, term, COUNT(*) AS n FROM tok WHERE term <> '' GROUP BY lang, term
)
SELECT lang, term, n, rnk FROM (
  SELECT lang, term, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
  FROM counted
) WHERE rnk <= 5
""",
    tags=("text", "topk"),
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: explode tokens → count per (lang, term) →
    top-5 per lang. Scale shape: the explode is map-side; the count is
    a partial-agg shuffle on (lang, term) — NOT on lang alone, so high
    term cardinality spreads the load; the final per-lang top-k is one
    window over the (small) counted frame."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    counted = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return counted.select(
        "lang", "term", "n", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 5)


@register("ml_kmeans_embeddings", oracle=None, tags=("ml", "similarity"))
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KMeans over the embedding corpus (seeded): cluster
    cardinalities + intra-cluster mean norm — the coarse-quantizer
    build step of the IVF index as a standalone query. Rows-only
    (iterative MLlib); determinism pinned by seed, structure asserted
    in tests/test_similarity.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..functions.vectors import as_double

    e = _embs(spark, sf_dir)
    # Null embeddings cannot be clustered and crash the fit deep inside
    # MLlib; exclude them with a pushable predicate (same policy as the
    # ANN entry points in operators/similarity.py).
    feats = e.filter(F.col("embedding").isNotNull()).select(
        "vec_id", array_to_vector(as_double("embedding")).alias("__features")
    )
    from ..ml.fitguard import fit_nonempty

    model = fit_nonempty(
        KMeans(k=8, seed=42, featuresCol="__features", predictionCol="cell"),
        feats,
        "ml_kmeans_embeddings",
        min_rows=8,
    )
    assigned = model.transform(feats)
    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))


@register("doc_stratified_sample", oracle=None, tags=("sampling",))
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalanced corpus sample (downsample 'en' to 20 %, keep
    half of everything else) — per-stratum binomial, map-side only; the
    ``default`` fraction covers unlisted strata so NO pass over the
    corpus is needed to discover the language domain first.
    Rows-only (sampling RNG is engine-specific); fraction accuracy
    asserted in tests."""
    from ..operators.skew import stratified_sample

    d = _docs(spark, sf_dir)
    out = stratified_sample(d, "lang", {"en": 0.2}, default=0.5)
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "doc_bigrams",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
b AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i + 1])) AS bigram
  FROM w WHERE len(words) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
""",
    tags=("text", "topk"),
)
def doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram generation + global top-20 — n-gram construction as a
    pure higher-order expression (sequence → element_at pairs), no UDF.
    The count shuffle keys on the bigram itself (high cardinality →
    even spread); top-20 is TakeOrderedAndProject."""
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
    )
    return (
        # cheap space-count predicate — the size(split) form is pushed
        # below the spread exchange and splits every doc single-core
        # there (functions.text.has_min_tokens)
        d.filter(T.has_min_tokens("text", 2))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "doc_decontaminate",
    bench=True,
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(words)),
                                      i -> words[i] || ' ' || words[i + 1])) AS grams
  FROM w WHERE len(words) >= 2
),
bench AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 20 = 0),
train AS (SELECT doc_id, len(grams) AS n_grams, UNNEST(grams) AS gram
          FROM g WHERE doc_id % 20 <> 0)
SELECT t.doc_id, t.n_grams, COUNT(*) AS n_hit,
       ROUND(COUNT(*) * 1.0 / t.n_grams, 4) AS containment
FROM train t JOIN bench b ON t.gram = b.gram
GROUP BY t.doc_id, t.n_grams
HAVING ROUND(COUNT(*) * 1.0 / t.n_grams, 4) >= 0.5
""",
    tags=("text", "dedup", "caches"),
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by n-gram containment: flag training
    docs whose distinct word-bigram set is >=50% contained in the
    benchmark corpus's bigram set (docs with doc_id % 20 == 0 stand in
    for the held-out eval set). Containment — |A ∩ B| / |A| — catches
    partial/embedded contamination that symmetric Jaccard misses.

    Scale shape: the benchmark side is genuinely small at any corpus
    size (eval suites are fixed), so its distinct-gram set broadcasts;
    the training side is a narrow explode → broadcast-semi hash join →
    re-aggregate on doc_id. No all-pairs stage anywhere — cost is
    linear in training-corpus gram volume even at 100 TB."""
    d = _docs(spark, sf_dir)
    grams = T.word_bigrams("text")
    # g feeds BOTH the benchmark-gram build and the training explode;
    # persist so the bigram construction (the dominant cost) runs once
    # (measured 3x at sf0.1).
    g = (
        d.filter(T.has_min_tokens("text", 2))
        .select("doc_id", grams.alias("grams"))
        .persist()
    )
    bench = (
        g.filter(F.col("doc_id") % 20 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = g.filter(F.col("doc_id") % 20 != 0).select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.explode("grams").alias("gram"),
    )
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .withColumn(
            "containment", F.round(F.col("n_hit") / F.col("n_grams"), 4)
        )
        .filter(F.col("containment") >= 0.5)
        .select("doc_id", "n_grams", "n_hit", "containment")
    )


@register(
    "doc_chunk",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE doc_id <= 50
),
c AS (
  SELECT doc_id,
         UNNEST(range(0, CAST(ceil(len(words) / 20.0) AS BIGINT))) AS chunk_id,
         UNNEST(list_transform(range(0, CAST(ceil(len(words) / 20.0) AS BIGINT)),
                i -> array_to_string(words[i*20+1 : LEAST((i+1)*20, len(words))],
                                     ' '))) AS chunk
  FROM w
)
SELECT doc_id, chunk_id, chunk,
       len(string_split(chunk, ' ')) AS n_tokens
FROM c
""",
    tags=("text", "reshape"),
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size document chunking (20-word windows, no overlap) — the
    context-length shaping step of every LLM training pipeline. Chunk
    construction is a pure higher-order projection (sequence → slice →
    concat) followed by a narrow posexplode: each doc expands in place,
    no shuffle, linear in corpus size at 100 TB. Overlapping windows are
    the same expression with a stride < width."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 50)
    words = F.split("text", " ")
    n_chunks = F.ceil(F.size(words) / F.lit(20.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * 20 + 1, 20)),
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "chunk",
        F.size(F.split("chunk", " ")).cast("bigint").alias("n_tokens"),
    )


@register(
    "doc_pii_redact",
    oracle="""
SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
         '[0-9]{4,}', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
         + len(regexp_extract_all(text, '[0-9]{4,}')) AS n_redactions
FROM documents WHERE doc_id <= 200
""",
    tags=("text", "functions"),
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing by pattern redaction (emails, long digit runs) —
    pre-training hygiene. Pure JVM regexp projection: no shuffle, no
    UDF; at 100 TB this is a map-only pass whose cost is regex
    throughput per executor core. Patterns are kept to the regex subset
    with identical semantics across engines."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") <= 200)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    num = r"[0-9]{4,}"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), num, "<NUM>"
        ).alias("redacted"),
        (
            F.regexp_count("text", F.lit(email)) + F.regexp_count("text", F.lit(num))
        ).cast("bigint").alias("n_redactions"),
    )


@register(
    "doc_repetition",
    bench=True,
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT doc_id, len(words) AS n_words,
         list_distinct(words) AS uw,
         list_transform(range(1, len(words)),
                        i -> words[i] || ' ' || words[i + 1]) AS bigrams
  FROM w WHERE len(words) >= 2
)
SELECT doc_id,
       ROUND(1.0 - len(uw) * 1.0 / n_words, 4) AS dup_word_frac,
       ROUND(1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams), 4)
         AS dup_bigram_frac
FROM g
""",
    tags=("text", "quality"),
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring (duplicate word / bigram
    fractions) — the Gopher-style quality signal that catches boilerplate
    and degenerate generations. All higher-order array expressions over
    each row independently: map-only, shuffle-free at any scale; the
    downstream pipeline filters on these columns before tokenization."""
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
    )
    g = d.filter(T.has_min_tokens("text", 2)).select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_uniq_words"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_uniq_bigrams"),
    )
    return g.select(
        "doc_id",
        F.round(1.0 - F.col("n_uniq_words") / F.col("n_words"), 4).alias(
            "dup_word_frac"
        ),
        F.round(1.0 - F.col("n_uniq_bigrams") / F.col("n_bigrams"), 4).alias(
            "dup_bigram_frac"
        ),
    )


@register(
    "emb_quantize_int8",
    bench=True,
    oracle="""
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(s.scale, 6) AS scale,
       array_to_string(
         list_transform(e.embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / s.scale) AS INT)),
         ',') AS qvec
FROM embeddings e JOIN s ON e.vec_id = s.vec_id
""",
    tags=("similarity", "array"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (scale = max|x|/127) — the
    4× memory/IO compression step that makes a 100 TB embedding corpus
    scannable for ANN (int8 dot products, rescale scores by scale_a ×
    scale_b). Pure map-side higher-order expressions — no shuffle, no
    UDF; the DuckDB join in the oracle is expressed in Spark as a single
    projection reusing the scale subexpression. The int8 vector is
    emitted as a comma-joined string: the driver's hash canonicalization
    (pandas sort_values) cannot factorize array cells, and the CSV form
    is lossless for integers."""
    e = _embs(spark, sf_dir)
    vec = F.col("embedding").cast("array<double>")
    scale = (
        F.array_max(F.transform(vec, lambda x: F.abs(x))) / 127.0
    )
    d = e.select("vec_id", vec.alias("__v"), scale.alias("__scale"))
    return d.select(
        "vec_id",
        F.round("__scale", 6).alias("scale"),
        F.array_join(
            F.transform(
                "__v", lambda x: F.round(x / F.col("__scale")).cast("int")
            ),
            ",",
        ).alias("qvec"),
    )


@register(
    "emb_label_centroids",
    oracle="""
WITH x AS (
  SELECT label,
         UNNEST(range(len(embedding))) AS pos,
         UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
  FROM embeddings
)
SELECT label, pos, COUNT(*) AS n, ROUND(AVG(v), 4) + 0.0 AS centroid_v
FROM x GROUP BY label, pos
""",
    tags=("similarity", "agg"),
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, dimension,
    mean) — the building block of IVF cell training and class
    prototypes. posexplode is narrow; the aggregate shuffles on
    (label, pos) — cardinality labels × dims, evenly spread — with
    map-side partial sums, so shuffle volume is O(labels × dims ×
    partitions), independent of corpus row count."""
    e = _embs(spark, sf_dir)
    return (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("v"), 4) + 0.0).alias("centroid_v"),
        )
    )


@register(
    "doc_winnow",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
a AS (
  SELECT doc_id,
         list_transform(words, t -> CAST(ascii(t) * 31 + length(t) AS BIGINT)) AS ah,
         len(words) AS nw
  FROM w WHERE len(words) >= 5
),
h AS (
  SELECT doc_id,
         list_transform(range(1, nw), i -> (ah[i] * 131 + ah[i + 1]) % 1000000007) AS hs
  FROM a
)
SELECT doc_id, len(hs) AS n_grams,
       array_to_string(
         list_sort(list_distinct(list_transform(range(1, len(hs) - 2),
                                                i -> list_min(hs[i:i+3])))),
         ',') AS fps
FROM h
""",
    tags=("text", "dedup"),
)
def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS): min bigram-hash per sliding
    window of 4, deduplicated — the position-robust fingerprint set
    used for overlap detection between documents. Guarantees every
    match of length >= window+gram is witnessed by a shared
    fingerprint, with density ~2/(window+1) of all grams.

    Pure higher-order expressions, map-only / shuffle-free at any
    corpus size. The gram hash here is a portable polynomial (so the
    DuckDB oracle computes bit-identical values); production would use
    ``xxhash64`` exactly as ``operators.dedup`` does — the winnowing
    structure is hash-agnostic. The fingerprint set is emitted as a
    comma-joined string so the driver's pandas-based hash
    canonicalization (which cannot factorize array cells) can compare
    it; lossless for integer hashes."""
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    ah = F.transform(
        words, lambda t: (F.ascii(t) * 31 + F.length(t)).cast("long")
    )
    d2 = d.filter(T.has_min_tokens("text", 5)).select(
        "doc_id", ah.alias("__ah"), F.size(words).alias("__nw")
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.col("__nw") - 1),
        lambda i: (
            F.element_at("__ah", i) * 131 + F.element_at("__ah", i + 1)
        ) % 1000000007,
    )
    d3 = d2.select("doc_id", hs.alias("__hs"), F.size(hs).alias("n_grams"))
    fps = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("__hs") - 3),
                lambda i: F.array_min(F.slice("__hs", i, 4)),
            )
        )
    )
    return d3.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.array_join(fps, ",").alias("fps"),
    )


@register(
    "mm_audio_rms",
    oracle="""
WITH chars AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> ascii(substring(text, i, 1))) AS s
  FROM documents WHERE doc_id <= 100
),
w AS (
  SELECT doc_id,
         UNNEST(range(0, CAST(ceil(len(s) / 64.0) AS BIGINT))) AS window_idx,
         UNNEST(list_transform(range(0, CAST(ceil(len(s) / 64.0) AS BIGINT)),
                w -> s[w*64+1 : LEAST((w+1)*64, len(s))])) AS win
  FROM chars
)
SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
       CAST(len(win) AS INT) AS n_samples,
       sqrt(list_reduce(list_transform(win, x -> CAST(x * x AS DOUBLE)),
                        (a, b) -> a + b) / len(win)) AS rms
FROM w
""",
    tags=("multimodal",),
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio plumbing (binary→windowed-DSP mapInPandas, 1→many):
    windowed RMS over payload bytes as 8-bit PCM. The oracle recomputes
    the same windows from character codes (the corpus is ASCII, so
    payload byte == char code) — integer squares sum exactly in
    float64, making even the sqrt bit-comparable."""
    d = M.attach_binary_payload(
        _docs(spark, sf_dir).filter(F.col("doc_id") <= 100)
    )
    return M.audio_window_rms(d)


# ---------------------------------------------------------------------------
# Round-2 wave: embedding normalization, hard-negative mining,
# quality-pipeline composition, corpus length profiling
# ---------------------------------------------------------------------------


@register(
    "emb_normalize",
    oracle="""
WITH n AS (
  SELECT vec_id,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(n.nrm, 4) AS norm,
       array_to_string(list_transform(e.embedding,
         x -> CAST(round(CAST(x AS DOUBLE) / n.nrm * 10000) AS INT)), ',') AS unit_q
FROM embeddings e JOIN n USING (vec_id)
""",
    tags=("similarity", "array"),
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — the standard prep
    before cosine ANN / clustering. Pure higher-order expressions
    (map-only, no shuffle, codegen-friendly); the unit vector is
    emitted as exact integer ten-thousandths joined to a string so the
    driver hash can canonicalize it (same convention as
    emb_quantize_int8)."""
    from ..functions.vectors import as_double, l2_norm

    e = _embs(spark, sf_dir)
    v = as_double("embedding")
    nrm = l2_norm(v)
    return e.select(
        "vec_id",
        F.round(nrm, 4).alias("norm"),
        F.array_join(
            F.transform(v, lambda x: F.round(x / nrm * 10000).cast("int")), ","
        ).alias("unit_q"),
    )


@register(
    "sim_hard_negatives",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS score
  FROM embeddings e, q
  WHERE e.label <> q.qlabel
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
    tags=("similarity", "topk"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-3 most-similar vectors with a DIFFERENT label. Queries
    broadcast, label inequality prunes before scoring, one window
    shuffle for the top-k (operators/similarity.hard_negatives)."""
    return S.hard_negatives(_embs(spark, sf_dir), k=3, n_queries=10)


@register(
    "doc_keep_decision",
    oracle="""
WITH k AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         ROUND(0.5 * LEAST(1.0, len(string_split(text, ' ')) / 50.0)
             + 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                      / len(string_split(text, ' '))), 4) AS quality,
         doc_id = MIN(doc_id) OVER (PARTITION BY text) AS is_keeper
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN quality >= 0.5 AND is_keeper AND n_tokens >= 5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(SUM(CASE WHEN quality >= 0.5 AND is_keeper AND n_tokens >= 5
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS keep_rate
FROM k GROUP BY lang
""",
    tags=("text", "dedup", "pipeline"),
)
def doc_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style keep/drop composition — the decision a real cleaning
    pipeline materializes: quality gate AND exact-dup keeper AND
    minimum length, summarized per language.

    The keeper window partitions on the 256-bit text digest, and every
    per-doc metric (digest, quality, token count) is derived in a
    map-side projection BEFORE the window — so the exchange carries
    ~90 bytes/row of derived columns, never the document text (the
    naive formulation shuffles the whole corpus). The oracle partitions
    on the text itself — equivalent up to SHA-256 collisions."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    m = d.select(
        "lang",
        "doc_id",
        F.sha2("text", 256).alias("__digest"),
        T.quality_score("text").alias("__quality"),
        T.token_count("text").alias("__ntok"),
    )
    w = Window.partitionBy("__digest")
    keep = (
        (F.col("__quality") >= 0.5)
        & (F.col("doc_id") == F.min("doc_id").over(w))
        & (F.col("__ntok") >= 5)
    )
    return (
        m.select("lang", keep.cast("int").alias("__keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__keep").alias("n_keep"),
            F.round(F.sum("__keep") / F.count(F.lit(1)), 4).alias("keep_rate"),
        )
    )


@register(
    "doc_length_buckets",
    oracle="""
SELECT lang, CAST(length(bin(n_chars)) AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang, bucket
""",
    tags=("text", "agg"),
)
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: power-of-two char-length buckets per
    language (bucket = bit-length of n_chars — integer-exact, unlike
    floor(log2) whose float rounding can flip at exact powers of two).
    The profile that drives chunking / packing decisions upstream of
    training."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(
            "lang", F.length(F.bin("n_chars")).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "doc_pack_sequences",
    oracle="""
WITH t AS (
  SELECT lang, doc_id, doc_id % 8 AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       CAST((cum - n_tokens) // 256 AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM c GROUP BY lang, shard, bin
""",
    tags=("text", "pipeline", "window"),
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-batch construction: documents are
    packed greedily (in doc_id order) into 256-token bins via a running
    token sum — the classic pretraining packing step, as one window +
    one aggregate, all integer arithmetic (hash-exact).

    Scale: the window partitions on (lang, shard) where shard =
    doc_id % 8 — a pure-integer salt that bounds each window partition
    regardless of language skew. 5 langs alone would collapse the sort
    onto 5 tasks at 100 TB; lang × shard spreads it 8× wider at the
    cost of 8 independent packings per lang (bins don't cross shards —
    exactly how a distributed packer shards in practice)."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    t = d.select(
        "lang",
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        T.token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.select(
            "lang",
            F.col("shard").cast("bigint").alias("shard"),
            F.floor((F.col("cum") - F.col("n_tokens")) / 256).alias("bin"),
            "n_tokens",
        )
        .groupBy("lang", "shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
    )


@register(
    "doc_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS nw FROM tok GROUP BY w),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT t.doc_id, ROUND(AVG(-log2(f.nw * 1.0 / tot.n)), 4) AS bits_per_token
FROM tok t JOIN freq f USING (w), tot
GROUP BY t.doc_id
""",
    tags=("text", "pipeline"),
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: average per-token surprisal
    (-log2 p) under the corpus's own unigram model — the cheap LM-based
    filter step (docs full of rare tokens score high, boilerplate
    scores low).

    Two aggregations + one join, no UDF. The vocabulary (word, count)
    table is orders of magnitude smaller than the corpus; no broadcast
    hint is forced — Spark's size estimate / AQE promotes the freq side
    to broadcast when it fits (it does at this sf) and degrades to a
    shuffle join when a 100 TB-corpus vocab doesn't, instead of OOMing
    executors on a mandatory hint. The 1-row total is a broadcast-joined
    aggregate, not a driver collect."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("nw"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    bits = -F.log2(F.col("nw") / F.col("n"))
    return (
        tok.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(bits), 4).alias("bits_per_token"))
    )


@register("dedup_simhash_banded", oracle=None, tags=("dedup", "approx"))
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-free SimHash near-dup pairs via 16-bit chunk banding
    (pigeonhole: Hamming ≤ 3 ⇒ one of four chunks matches exactly, so
    candidates come from an equi-join, recall 1.0). Rows-only (xxhash64
    signatures aren't DuckDB-expressible); exact set equality against
    brute-force Hamming pairs is pinned in tests/test_dedup.py."""
    return D.simhash_banded_pairs(_docs(spark, sf_dir), max_hamming=3)


@register(
    "doc_tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, UNNEST(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
df_w AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
lang_tf AS (SELECT lang, w, COUNT(*) AS tf FROM tok GROUP BY lang, w),
scored AS (
  SELECT t.lang, t.w,
         ROUND(t.tf * ln(n.n * 1.0 / d.df), 4) AS tfidf
  FROM lang_tf t JOIN df_w d USING (w), n_docs n
),
ranked AS (
  SELECT lang, w, tfidf,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, w) AS rnk
  FROM scored
)
SELECT lang, w AS term, tfidf, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
""",
    tags=("text", "topk"),
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms by TF-IDF (document frequency over the
    whole corpus, term frequency per language) — the signature-term
    surfacing step of corpus exploration.

    Scale: distinct-token explode (map-side), two aggregations keyed on
    the term (high cardinality → even shuffle spread), document-
    frequency side broadcast into the scoring join (vocab ≪ corpus),
    and a WindowGroupLimit top-5 per language."""
    d = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    tok = d.select(
        "doc_id", "lang", F.explode(T.distinct_tokens("text")).alias("w")
    )
    df_w = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    lang_tf = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        lang_tf.join(F.broadcast(df_w), "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            "w",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 4).alias("tfidf"),
        )
    )
    win = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), "w")
    return (
        scored.select(
            "lang",
            F.col("w").alias("term"),
            "tfidf",
            F.row_number().over(win).alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


@register(
    "emb_dim_stats",
    oracle="""
WITH d AS (
  SELECT vec_id, UNNEST(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n,
       ROUND(AVG(CAST(x AS DOUBLE)), 4) + 0.0 AS mean,
       ROUND(STDDEV_POP(CAST(x AS DOUBLE)), 4) AS std
FROM d GROUP BY dim
""",
    tags=("similarity", "array", "agg"),
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std across the embedding corpus — the
    statistics a whitening / normalization step consumes. posexplode
    pivots (vec, dim) pairs; the aggregate shuffles on the dimension
    index (bounded cardinality = embedding width, perfectly even).
    A near-zero dim mean rounds to ±0 (it did at sf0.1) → ``+ 0.0`` on
    both sides per the registry signed-zero convention."""
    e = _embs(spark, sf_dir)
    d = e.select(F.posexplode("embedding").alias("dim", "x"))
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.avg(F.col("x").cast("double")), 4) + F.lit(0.0)).alias("mean"),
        F.round(F.stddev_pop(F.col("x").cast("double")), 4).alias("std"),
    )


@register(
    "emb_centroid_outliers",
    oracle="""
WITH d AS (
  SELECT vec_id, label, UNNEST(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
c AS (
  SELECT label, dim, AVG(CAST(x AS DOUBLE)) AS cx
  FROM d GROUP BY label, dim
),
dist AS (
  SELECT d.vec_id, d.label,
         SQRT(SUM((CAST(d.x AS DOUBLE) - c.cx) * (CAST(d.x AS DOUBLE) - c.cx)))
           AS rawdist
  FROM d JOIN c ON d.label = c.label AND d.dim = c.dim
  GROUP BY d.vec_id, d.label
),
ranked AS (
  SELECT label, vec_id, ROUND(rawdist, 4) AS dist,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY ROUND(rawdist, 4) DESC, vec_id) AS rnk
  FROM dist
)
SELECT label, vec_id, dist, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 3
""",
    tags=("similarity", "quality"),
)
def emb_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-conditional outlier mining: per label, the 3 vectors
    farthest from their label centroid — the mislabeled/noisy-example
    surfacing step of embedding-space QA.

    Scale: centroids aggregate to (n_labels x dims) rows — broadcast
    into the distance join, so the corpus never shuffles on the label;
    the per-vector distance is a map-side higher-order expression over
    the array + broadcast centroid, and the only wide exchange is the
    per-label top-3 window. Rank ties break on the ROUNDED distance +
    vec_id, so cross-engine float noise cannot reorder rows."""
    from pyspark.sql.window import Window

    from ..functions.vectors import as_double

    e = _embs(spark, sf_dir)
    d = e.select("vec_id", "label", F.posexplode("embedding").alias("dim0", "x"))
    cents = d.groupBy("label", F.col("dim0").alias("dim")).agg(
        F.avg(F.col("x").cast("double")).alias("cx")
    )
    centroid_arr = cents.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "cx"))
        ).alias("__dc")
    ).select(
        "label", F.transform("__dc", lambda s: s.cx).alias("__centroid")
    )
    diff = (
        e.select("vec_id", "label", as_double("embedding").alias("__v"))
        .join(F.broadcast(centroid_arr), "label")
        .select(
            "label",
            "vec_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with("__v", "__centroid", lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                4,
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return diff.select(
        "label", "vec_id", "dist", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 3)


# ---------------------------------------------------------------------------
# Training-mixture curation (round 3)
# ---------------------------------------------------------------------------


@register(
    "doc_domain_mix_weights",
    oracle="""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS ns FROM s)
SELECT s.source, s.n_docs, s.n_tokens,
       ROUND((t.total * 1.0 / t.ns) / s.n_tokens, 4) AS mix_weight
FROM s, t
""",
    tags=("text", "pipeline", "sampling"),
)
def doc_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for a uniform token mixture: weight =
    (corpus tokens / n_sources) / source tokens — the multiplier an
    epoch sampler applies so every domain contributes equal tokens (the
    domain-reweighting step of training-mixture design; arbitrary
    target shares are the same arithmetic with a non-uniform
    numerator).

    Scale: one aggregate per source (bounded cardinality), one 1-row
    total crossed back in via broadcast. The corpus is scanned once,
    projecting only (source, text length)."""
    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    t = s.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("ns"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round((F.col("total") * 1.0 / F.col("ns")) / F.col("n_tokens"), 4).alias(
            "mix_weight"
        ),
    )


@register(
    "doc_ngram_novelty",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
           range(1, len(words) - 1),
           i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]
         ))) AS gram
  FROM w WHERE len(words) >= 3
),
f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS novelty
FROM g JOIN f USING (gram)
GROUP BY g.doc_id
""",
    tags=("text", "dedup", "quality"),
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty under doc_id arrival order: the
    fraction of a doc's distinct trigrams whose FIRST corpus occurrence
    is in that doc — the cross-document repetition signal used to down-
    weight boilerplate-heavy sources (a doc full of already-seen n-grams
    scores near 0).

    Scale: the gram stream shuffles once on the gram for the
    first-occurrence aggregate, and the (gram -> first_doc) side joins
    back on the SAME key, so the exchange is reused; the per-doc
    aggregate then shuffles compact (doc_id, flag) rows. No broadcast of
    the unbounded gram vocabulary, no collect."""
    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        )
    )
    g = (
        d.filter(T.has_min_tokens("text", 3))
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    f = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) * 1.0 / F.count(F.lit(1)), 4).alias("novelty"),
        )
    )


@register(
    "doc_dsir_importance",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
freq AS (
  SELECT w,
         SUM(CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN doc_id % 20 <> 0 THEN 1 ELSE 0 END) AS cr
  FROM tok GROUP BY w
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS n_t, CAST(SUM(cr) AS BIGINT) AS n_r,
         COUNT(*) AS vocab
  FROM freq
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(
         ln((f.ct + 1) * 1.0 / (tot.n_t + tot.vocab))
         - ln((f.cr + 1) * 1.0 / (tot.n_r + tot.vocab))
       ), 4) + 0.0 AS importance
FROM tok t JOIN freq f USING (w), tot
WHERE t.doc_id % 20 <> 0
GROUP BY t.doc_id
""",
    tags=("text", "pipeline", "sampling"),
)
def doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling scores for data selection: per raw doc, the
    average token log-likelihood ratio between a target distribution
    (the held-out doc_id % 20 == 0 slice — same split convention as
    doc_decontaminate) and the raw corpus, add-1 smoothed over the
    shared vocabulary. High scores mark documents that look like the
    target domain — the hashed-n-gram importance-sampling recipe for
    pretraining selection, with word unigrams as the feature.

    Scale: ONE vocabulary aggregate carries both distributions (a
    conditional-count pass, one shuffle on the word); every scalar total
    (token counts, vocab size) derives from that small freq table, so
    the corpus token stream is scanned exactly twice — once to build the
    vocab, once to score — instead of once per statistic. The scoring
    join is on the same word key (no forced broadcast — AQE promotes
    when the vocab fits); one final compact shuffle on doc_id."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    is_tgt = F.col("doc_id") % 20 == 0
    freq = tok.groupBy("w").agg(
        F.sum(is_tgt.cast("int")).alias("ct"),
        F.sum((~is_tgt).cast("int")).alias("cr"),
    )
    tot = freq.agg(
        F.sum("ct").cast("bigint").alias("n_t"),
        F.sum("cr").cast("bigint").alias("n_r"),
        F.count(F.lit(1)).alias("vocab"),
    )
    ratio = F.log(
        (F.col("ct") + 1) * 1.0 / (F.col("n_t") + F.col("vocab"))
    ) - F.log((F.col("cr") + 1) * 1.0 / (F.col("n_r") + F.col("vocab")))
    return (
        tok.filter(~is_tgt)
        .join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0 normalizes -0.0 (registry convention: rounded floats
            # near zero — the r04 driver hash-fail on doc_id 87).
            (F.round(F.avg(ratio), 4) + F.lit(0.0)).alias("importance"),
        )
    )




@register(
    "emb_coreset_per_label",
    oracle="""
WITH d AS (
  SELECT vec_id, label, UNNEST(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
cd AS (
  SELECT label, dim, AVG(CAST(x AS DOUBLE)) AS cx
  FROM d GROUP BY label, dim
),
c AS (SELECT label, list(cx ORDER BY dim) AS centroid FROM cd GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label,
         ROUND(list_cosine_similarity(
           list_transform(e.embedding, v -> CAST(v AS DOUBLE)), c.centroid
         ), 4) AS cos_c
  FROM embeddings e JOIN c USING (label)
),
ranked AS (
  SELECT label, vec_id, cos_c,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY cos_c DESC, vec_id) AS rnk
  FROM scored
)
SELECT label, vec_id, cos_c, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
""",
    tags=("similarity", "sampling", "topk"),
)
def emb_coreset_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection (coreset seeding): per label, the 5
    vectors most cosine-similar to their label centroid — the
    prototype-picking step of dataset distillation / active-labeling
    loops (the mirror image of ``emb_centroid_outliers``, which surfaces
    the farthest).

    Scale: centroids aggregate to (n_labels x dims) rows and broadcast
    into the scoring join, so the corpus never shuffles on label; cosine
    is a map-side higher-order expression; the only wide exchange is the
    per-label top-5 window. Rank ties break on the ROUNDED similarity +
    vec_id, so cross-engine float noise cannot reorder rows."""
    from pyspark.sql.window import Window

    from ..functions.vectors import as_double, cosine

    e = _embs(spark, sf_dir)
    d = e.select("vec_id", "label", F.posexplode("embedding").alias("dim0", "x"))
    cents = d.groupBy("label", F.col("dim0").alias("dim")).agg(
        F.avg(F.col("x").cast("double")).alias("cx")
    )
    centroid_arr = (
        cents.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("__dc"))
        .select("label", F.transform("__dc", lambda s: s.cx).alias("__centroid"))
    )
    scored = (
        e.select("vec_id", "label", as_double("embedding").alias("__v"))
        .join(F.broadcast(centroid_arr), "label")
        .select(
            "label",
            "vec_id",
            F.round(cosine(F.col("__v"), F.col("__centroid")), 4).alias("cos_c"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("cos_c").desc(), "vec_id")
    return scored.select(
        "label", "vec_id", "cos_c", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 5)


@register("mm_phash_neardup", oracle=None, tags=("multimodal", "dedup", "approx"))
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup mining: 64-bit perceptual hash (aHash over
    the stubbed decode) per binary payload, then the SAME blocking-free
    16-bit-chunk banded Hamming join the text SimHash path uses —
    image-level dedup without an all-pairs comparison. Rows-only
    (mapInPandas signatures aren't DuckDB-expressible); exact set
    equality against brute-force Hamming pairs is pinned in
    tests/test_multimodal.py."""
    d = M.attach_binary_payload(_docs(spark, sf_dir))
    sigs = M.phash64(d)
    return D.banded_hamming_pairs(sigs, max_hamming=3)


@register("emb_pq_codes", oracle=None, tags=("similarity", "approx", "compression"))
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding corpus with PINNED
    codebooks (r15): 8 subspaces x 16 centroids trained ONCE
    (``pq_train_codebooks`` — now layout-deterministic via canonical-
    sorted Lloyd), persisted via ``ml.artifact.pinned`` keyed by a
    content fingerprint, and LOADED by the query path; the encode is
    map-only against the pinned books (vectors become id + 8 bytes —
    the compression layer of an IVF-PQ index). Rows-only (iterative
    k-means isn't SQL); reconstruction quality vs a random-codebook
    floor is gated in tests/test_similarity.py. Returns per-(sub, code)
    usage counts so the result is stable-schema and small."""
    e = _embs(spark, sf_dir)
    fp = ART.dataset_fingerprint(e, "vec_id", "embedding")
    book_rows = ART.pinned(
        ART.trainer_key("pq_m8_k16", "pq_train_codebooks", fp),
        lambda: [
            (int(r["sub"]), int(r["code"]), [float(x) for x in r["centroid"]])
            for r in S.pq_train_codebooks(e, m=8, k=16).collect()
        ],
    )
    books = spark.createDataFrame(
        book_rows, schema="sub INT, code INT, centroid ARRAY<DOUBLE>"
    )
    codes = S.pq_encode(e, books, m=8)
    return (
        codes.select(F.posexplode("codes").alias("sub", "code"))
        .groupBy("sub", "code")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("sub", "code")
    )


@register(
    "emb_opq_rotation", oracle=None, tags=("similarity", "approx", "compression")
)
def emb_opq_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite pre-rotation for PQ (r15, r14 verdict task 8): a single
    learned orthogonal rotation — PCA eigenbasis + eigenvalue
    allocation over a content-ordered sample (``S.opq_rotation``,
    the OPQ_P parametric baseline of Ge et al.) — applied map-only to
    the corpus before codebook training. On clustered corpora it
    recovers the PQ recall default codebooks lose (0.200 → 0.328
    recall@10 at m=16/k=16, the r15 SCALING row; floors pinned in
    tests/test_similarity.py). Returns the per-subspace variance mass
    of the rotated corpus — the quantity eigenvalue allocation
    balances, so imbalance regressions are driver-visible. Rows-only
    (eigendecomposition isn't SQL); training is layout-deterministic
    (canonical sample + sign convention, probe-pinned in tests), and —
    like every trained structure since r15 — the rotation is PINNED:
    train-once → persist (``ml.artifact.pinned``) → load, never refit
    in the query path."""
    m = 8
    e = _embs(spark, sf_dir)
    fp = ART.dataset_fingerprint(e, "vec_id", "embedding")
    R = ART.pinned(
        ART.trainer_key(f"opq_m{m}", "opq_rotation", fp),
        lambda: [[float(x) for x in row] for row in S.opq_rotation(e, m=m)],
    )
    dsub = len(R) // m
    er = S.apply_rotation(e, R)
    return (
        er.select(F.posexplode("embedding").alias("i", "v"))
        .withColumn("sub", (F.col("i") / dsub).cast("int"))
        .groupBy("sub")
        .agg(
            F.round(F.sum(F.col("v") * F.col("v")), 1).alias("energy"),
            F.count(F.lit(1)).alias("n_components"),
        )
        .orderBy("sub")
    )


_L2_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST(list_distance(e.embedding, q.qv) AS DOUBLE), 4) AS dist
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
),
topk AS (
  SELECT * FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= 10
)
SELECT query_id,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rank) AS exact_ids,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM topk GROUP BY query_id
"""


@register(
    "sim_pq_adc_topk", oracle=_L2_TOPK_ORACLE, tags=("similarity", "approx", "topk")
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 over PQ codes for 5 query vectors —
    the query path of an IVF-PQ index: per query a (subspace x centroid)
    distance lookup table is built once, and the corpus scan is m table
    gathers per vector over 8-byte codes (original vectors never load).
    The m=16/k=16 codebooks are PINNED since r16 (train-once → persist
    → load, the same ``ml.artifact`` contract as the coarse quantizer —
    previously this entry was the one trained structure still fit
    in-query).

    Recall-ε-GATED hash-green since r16 (``_recall_gated``): the
    oracle recomputes the exact EUCLIDEAN top-10 per query (ADC ranks
    by squared L2 — ``list_distance``, not cosine) and the driver
    hashes the in-plan claim that 64-bit ADC recovers it with mean
    recall ≥ 0.10 — measured mean 0.440 / 0.420 / 0.180 at
    sf0.001/0.01/0.1. The floor LOOKS low because the fixture vectors
    are near-random (no cluster structure for codes to exploit — the
    documented PQ worst case, see SCALING.md "r13: ANN recall@10 vs
    exact ground truth at sf0.1"); random top-10 overlap at sf0.1
    would be 0.005, so the gate still sits 20-36× above chance, and
    the clustered-corpus recall the same kernels reach (0.33-0.43 with
    OPQ) is pinned in tests/test_similarity.py."""
    e = _embs(spark, sf_dir)
    fp = ART.dataset_fingerprint(e, "vec_id", "embedding")
    book_rows = ART.pinned(
        ART.trainer_key("pq_m16_k16", "pq_train_codebooks", fp),
        lambda: [
            (int(r["sub"]), int(r["code"]), [float(x) for x in r["centroid"]])
            for r in S.pq_train_codebooks(e, m=16, k=16).collect()
        ],
    )
    books = spark.createDataFrame(
        book_rows, schema="sub INT, code INT, centroid ARRAY<DOUBLE>"
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = S.pq_adc_topk(e, books, q, k=10, m=16)
    exact = S.brute_force_topk_l2(e, q, k=10)
    return _recall_gated(adc, exact, k=10, floor=0.10)


@register(
    "doc_vocab_growth",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
f AS (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w),
nb AS (
  SELECT CAST(FLOOR(fd / 50.0) AS BIGINT) AS bucket, COUNT(*) AS new_words
  FROM f GROUP BY 1
),
tb AS (
  SELECT CAST(FLOOR(doc_id / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n_tokens
  FROM tok GROUP BY 1
)
SELECT tb.bucket, tb.n_tokens, COALESCE(nb.new_words, 0) AS new_words,
       CAST(SUM(COALESCE(nb.new_words, 0)) OVER
            (ORDER BY tb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_vocab,
       CAST(SUM(tb.n_tokens) OVER
            (ORDER BY tb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens
FROM tb LEFT JOIN nb USING (bucket)
""",
    tags=("text", "stats", "pipeline"),
)
def doc_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: per 50-document bucket (in
    doc_id arrival order), the tokens processed and the NEW vocabulary
    introduced, with running totals — the diminishing-returns signal
    that sizes how much more raw data a tokenizer/vocab or dedup stage
    will actually benefit from.

    Scale: first occurrences aggregate once on the word; both bucket
    aggregates are bounded-cardinality; the running sums window over
    the tiny bucket frame (single partition of n_buckets rows — fine,
    because the frame is already aggregate-sized, not corpus-sized)."""
    d = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    f = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    nb = f.groupBy(
        F.floor(F.col("fd") / 50.0).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_words"))
    tb = tok.groupBy(
        F.floor(F.col("doc_id") / 50.0).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tb.join(nb, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
        .select(
            "bucket",
            "n_tokens",
            "new_words",
            F.sum("new_words").over(w).cast("bigint").alias("cum_vocab"),
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        )
    )


@register(
    "sim_ivf_pq_topk", oracle=_L2_TOPK_ORACLE, tags=("similarity", "approx", "topk")
)
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full billion-scale ANN composition: IVF coarse quantizer
    (nprobe/nlist cell pruning) + asymmetric-distance ranking over
    RESIDUAL product-quantization codes — corpus vectors are (cell id +
    m bytes) at query time; original embeddings never load. Since r15
    the coarse quantizer comes from the SAME pinned artifact as
    ``sim_ivf_topk`` (train-once → persist → load; one quantizer per
    corpus serves both indexes, exactly how a deployment shares its
    coarse level), so no KMeans runs in the query and the index build
    is layout-deterministic.

    Recall-ε-GATED hash-green since r16 (``_recall_gated``, same
    exact-euclidean oracle as ``sim_pq_adc_topk``): mean recall@10
    gated at ≥ 0.10 — measured 0.400 / 0.340 / 0.240 at
    sf0.001/0.01/0.1 on the near-random fixture (cell-pruning recall
    × residual-PQ ranking quality; random would be 0.005)."""
    e = _embs(spark, sf_dir)
    fp = ART.dataset_fingerprint(e, "vec_id", "embedding")
    cent_rows = ART.pinned(
        ART.trainer_key("ivf_nlist16", "ivf_train_centroids", fp),
        lambda: [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in S.ivf_train_centroids(e, nlist=16).collect()
        ],
    )
    cents = spark.createDataFrame(
        cent_rows, schema="cell INT, centroid ARRAY<DOUBLE>"
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivfpq = S.ivf_pq_topk(
        e, q, k=10, nlist=16, nprobe=6, m=16, pq_k=16, centroids=cents
    )
    exact = S.brute_force_topk_l2(e, q, k=10)
    return _recall_gated(ivfpq, exact, k=10, floor=0.10)


@register(
    "doc_stable_sample",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       ROUND(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333'
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS rate
FROM documents GROUP BY source
""",
    tags=("sampling", "pipeline"),
)
def doc_stable_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold stable sampling: a document is in the ~20 % sample
    iff the first 4 hex chars of md5(doc_id) sort below '3333' — the
    industry-standard deterministic sampler (same doc is in/out across
    reruns, engines, and subsets; no seed state, no shuffle, trivially
    stratifiable by adjusting the threshold per stratum). The
    lexicographic-hex comparison is engine-portable where float
    division of hashes is not.

    Scale: map-only predicate + one bounded aggregate."""
    d = _docs(spark, sf_dir)
    in_sample = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "3333"
    ).cast("int")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(in_sample).cast("bigint").alias("n_sampled"),
        F.round(F.sum(in_sample) * 1.0 / F.count(F.lit(1)), 4).alias("rate"),
    )


@register("doc_dup_pagerank", oracle=None, tags=("dedup", "graph"))
def doc_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the banded-SimHash near-dup graph: the
    top-20 hub documents of duplication neighborhoods (what a curation
    pass inspects first — boilerplate radiates edges). Power iteration,
    one co-located shuffle per step. Rows-only (iterative); equality
    against a driver-side numpy power iteration is pinned in
    tests/test_dedup.py."""
    pairs = D.simhash_banded_pairs(_docs(spark, sf_dir), max_hamming=3)
    pr = D.pagerank(pairs, n_iter=10)
    return pr.orderBy(F.col("rank").desc(), "doc_id").limit(20)
