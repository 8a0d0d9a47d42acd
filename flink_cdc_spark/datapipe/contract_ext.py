"""Driver-contract entries for the datapipe operators.

Registered into the shared QUERIES/ORACLES registries (imported from
flink_cdc_spark.contract at the bottom of that module). Each Spark query
uses the scale-path plan; each oracle is the naive-but-identical DuckDB
equivalent generated from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..contract import register
from . import dedup, sampling, similarity, textstats

N_SIM_QUERIES = 10


def _pin(spark: SparkSession) -> SparkSession:
    from ..contract import pin_session

    return pin_session(spark)


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The test parquets are single-row-group files -> one input partition,
    which serializes every map stage onto one core. Spread small inputs
    across the cluster once up front (at real scale the source has many
    splits and this is a no-op decision).

    The split probe uses inputFiles() (file-index only) — NOT
    `.rdd.getNumPartitions()`, which forces a full plan conversion per
    query (r7 verdict hygiene item)."""
    par = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans: leave as-is
        return df
    if 0 < n_files < par:
        return df.repartition(par)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(_pin(spark), spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(_pin(spark), spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


@register("sim_filtered_topk", similarity.filtered_topk_oracle_sql(n_queries=N_SIM_QUERIES))
def sim_filtered_topk(spark, sf_dir):
    """Metadata-filtered vector search: the label predicate is pushed
    into the scan BEFORE normalization and the distance join (pre-filter
    keeps top-k exact over the restricted set; post-filter would lose
    recall). Same broadcast-query bounded-window shape as cosine_topk."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(f"vec_id < {N_SIM_QUERIES}")
    return similarity.filtered_topk(embs, queries)


@register("sim_hybrid_retrieval", similarity.hybrid_retrieval_oracle_sql())
def sim_hybrid_retrieval(spark, sf_dir):
    """Hybrid RAG retrieval: lexical candidate generation (inverted-index
    probe on the query's top tf-idf term — one term-key exchange, never
    all-pairs) re-ranked by embedding cosine in a bounded per-query
    window. doc_id == vec_id in the corpus."""
    return similarity.hybrid_retrieval(_docs(spark, sf_dir), _embs(spark, sf_dir))


@register(
    "dedup_exact_family",
    f"""
    SELECT 'ids' AS variant, doc_id, fingerprint, dup_count,
           CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_chars
    FROM ({dedup.exact_dedup_oracle_sql()}) ids
    UNION ALL
    SELECT 'payload' AS variant, doc_id,
           CAST(NULL AS VARCHAR) AS fingerprint,
           CAST(NULL AS BIGINT) AS dup_count, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (
      SELECT min(doc_id) FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    )
    """,
)
def dedup_exact_family(spark, sf_dir):
    """One exact-dedup machine, both surfaces, union-tagged by variant
    (r15 capacity-policy MERGE of dedup_exact + dedup_exact_keep_payload —
    each branch's dataflow and oracle survive verbatim; keep-payload is
    the projection toggle on the same fingerprint aggregate):

      * 'ids' — the narrow (key, fingerprint, dup_count) dedup result.
        One hash-aggregate shuffle on the md5 fingerprint.
      * 'payload' — surviving payload rows: dedup on the narrow
        projection, then semi-join back — the payload never enters the
        dedup shuffle (the 100 TB-friendly shape).
    """
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    ids = dedup.exact_dedup(docs).select(
        F.lit("ids").alias("variant"),
        "doc_id",
        "fingerprint",
        "dup_count",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("bigint").alias("n_chars"),
    )
    keepers = dedup.exact_dedup(docs).select("doc_id")
    # keeper set ~ |distinct docs| (corpus-proportional): no hard
    # broadcast hint — AQE broadcasts it while it fits, shuffles at scale
    payload = (
        docs.join(keepers, "doc_id", "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
        .select(
            F.lit("payload").alias("variant"),
            "doc_id",
            F.lit(None).cast("string").alias("fingerprint"),
            F.lit(None).cast("bigint").alias("dup_count"),
            "lang",
            "source",
            "n_chars",
        )
    )
    return ids.unionByName(payload)


@register("dedup_ngram_jaccard", dedup.ngram_jaccard_oracle_sql())
def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir))


@register("dedup_minhash_lsh", dedup.minhash_lsh_oracle_sql())
def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir))


@register("dedup_simhash", dedup.simhash_oracle_sql())
def dedup_simhash(spark, sf_dir):
    return dedup.simhash_pairs(_docs(spark, sf_dir))


@register("dedup_embedding_cosine", dedup.embedding_near_dup_oracle_sql())
def dedup_embedding_cosine(spark, sf_dir):
    return dedup.embedding_near_dup_pairs(_embs(spark, sf_dir))


_BOILER = (
    "common boilerplate sentence repeated across many documents "
    "to exercise the frequency cap guard"
)

_SUBSTR_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 2
    UNION ALL
    SELECT doc_id + 2000000, '{_BOILER}' FROM documents WHERE doc_id % 3 = 0
"""


@register(
    "dedup_exact_substring",
    dedup.exact_substring_oracle_sql(_SUBSTR_CORPUS_SQL),
)
def dedup_exact_substring(spark, sf_dir):
    """Exact duplicated-span pairs (Lee et al. 2022 scope): verbatim
    8-token windows joined on their hash, with the boilerplate frequency
    cap cutting the quadratic blowup — the planted identical-boilerplate
    docs (freq >> cap) correctly yield NO pairs, the planted twins do."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    corpus = (
        docs.select("doc_id", "text")
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 2)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        .unionByName(
            docs.where(F.col("doc_id") % 3 == 0)
            .select((F.col("doc_id") + 2000000).alias("doc_id"),
                    F.lit(_BOILER).alias("text"))
        )
    )
    return dedup.exact_substring_pairs(corpus)


def _sessions_oracle():
    from . import sessions

    return sessions.sessionize_oracle_sql()


@register("events_sessionize", _sessions_oracle())
def events_sessionize(spark, sf_dir):
    """Gap-based event sessionization (training-example grouping): one
    shuffle on user_id, lag -> flag -> running-sum session index, one
    aggregation; integer-microsecond arithmetic with (ts, event_id)
    ordering so equal timestamps cannot reorder between engines."""
    from . import sessions
    from ..sources.parquet_source import ParquetTableSource

    # ParquetTableSource normalizes TIMESTAMP(NANOS) parquet columns
    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return sessions.sessionize(ev)


def _km_oracle():
    from . import clustering

    return clustering.kmeans_oracle_sql()


@register("cluster_kmeans_assign", _km_oracle())
def cluster_kmeans_assign(spark, sf_dir):
    """K-means (Lloyd) over the embedding column as a distributed
    DataFrame loop: per iteration one broadcast-centroid scoring map pass
    + one exact-integer hash aggregation; only the k*dim centroid matrix
    crosses the driver. Integer-quantized centroid sums make the SQL
    oracle bit-exact (float summation order cannot diverge)."""
    from . import clustering

    return clustering.kmeans_assign(_embs(spark, sf_dir))


def _ivf_fitted_oracle():
    from . import clustering

    return clustering.ivf_fitted_oracle_sql(n_queries=N_SIM_QUERIES)


def _ivf_family_oracle():
    grid = similarity.ivf_topk_oracle_sql(n_queries=N_SIM_QUERIES)
    return f"""
    SELECT 'grid' AS variant, * FROM ({grid}) g
    UNION ALL
    SELECT 'fitted' AS variant, * FROM ({_ivf_fitted_oracle()}) f
    """


@register("sim_ivf_family", _ivf_family_oracle())
def sim_ivf_family(spark, sf_dir):
    """One IVF probe path, both centroid sources, union-tagged by
    variant (r15 capacity-policy MERGE of sim_ivf_topk +
    sim_ivf_fitted_topk — each branch's dataflow and oracle survive
    verbatim; fitted-vs-grid is where the centroids come from, the
    probe machine is identical):

      * 'grid' — seeded grid centroids (the standing IVF index).
      * 'fitted' — the index-build composition: k-means-fit centroids
        (exact-oracle Lloyd), normalize, then IVF ANN probes the fitted
        cells — the production path where the index comes from the
        corpus itself.
    """
    import math

    from pyspark.sql import functions as F

    from . import clustering

    embs = _embs(spark, sf_dir)
    queries = embs.where(f"vec_id < {N_SIM_QUERIES}")
    grid = similarity.ivf_topk(embs, queries).select(
        F.lit("grid").alias("variant"), "*"
    )
    _, cents = clustering.kmeans_fit(embs, k=16, iters=2)
    unit = [
        [v / math.sqrt(sum(x * x for x in c)) for v in c] for c in cents
    ]
    fitted = similarity.ivf_topk(embs, queries, centroids=unit).select(
        F.lit("fitted").alias("variant"), "*"
    )
    return grid.unionByName(fitted)


def _sem_km_oracle():
    return dedup.semantic_dedup_kmeans_oracle_sql()


@register("dedup_semantic_kmeans", _sem_km_oracle())
def dedup_semantic_kmeans(spark, sf_dir):
    """The FULL SemDeDup pipeline: fit k-means clusters (exact-oracle
    Lloyd), then near-dup search only within fitted clusters with the
    keep-lowest-id policy — clustering and dedup composed end-to-end."""
    from . import clustering

    embs = _embs(spark, sf_dir)
    assignments = clustering.kmeans_assign(embs)
    return dedup.semantic_dedup_with_clusters(embs, assignments)


@register("dedup_semantic_cluster", dedup.semantic_dedup_oracle_sql())
def dedup_semantic_cluster(spark, sf_dir):
    """SemDeDup-style semantic dedup: one map pass assigns each embedding
    to its nearest centroid, the quadratic near-dup search runs only
    within cells (self-equi-join on cell id), keep-lowest-id policy."""
    return dedup.semantic_dedup(_embs(spark, sf_dir))


@register("sim_cosine_topk", similarity.cosine_topk_oracle_sql(n_queries=N_SIM_QUERIES))
def sim_cosine_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.where(f"vec_id < {N_SIM_QUERIES}")
    return similarity.cosine_topk(embs, queries)


@register("sim_ann_lsh", similarity.ann_topk_oracle_sql(n_queries=N_SIM_QUERIES))
def sim_ann_lsh(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.where(f"vec_id < {N_SIM_QUERIES}")
    return similarity.ann_topk(embs, queries)


# deterministic duplicate salting for the connected-components gate: the
# raw corpus has no exact duplicates at small SF, which made the oracle
# row vacuous (0 rows on both sides). Re-inserting copies of every
# doc_id % SALT_MOD == 0 document under shifted ids yields 3-node chains,
# so the fixpoint genuinely needs multi-hop propagation AND the oracle
# compares real rows. Constants shared by both sides.
_CC_SALT_MOD = 50
_CC_SALT_COPIES = (10_000_000, 20_000_000)


def _cc_salted_table_sql() -> str:
    parts = ["SELECT doc_id, text FROM documents"] + [
        f"SELECT doc_id + {off} AS doc_id, text FROM documents "
        f"WHERE doc_id % {_CC_SALT_MOD} = 0"
        for off in _CC_SALT_COPIES
    ]
    return "(" + " UNION ALL ".join(parts) + ") salted"


@register(
    "dedup_connected_components",
    dedup.dedup_components_oracle_sql(table=_cc_salted_table_sql()),
)
def dedup_connected_components(spark, sf_dir):
    """Cluster-level dedup: duplicate groups resolved as connected
    components by iterative min-label propagation (multi-hop: the edge set
    is sparse chains of length 3, so the fixpoint takes O(chain length)
    rounds). The repo's iterative-algorithm representative — fully
    oracle-gated with NON-EMPTY results, because the chain graph's
    components have a closed form over the salted corpus."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    salted = docs
    for off in _CC_SALT_COPIES:
        salted = salted.unionByName(
            docs.where(F.col("doc_id") % _CC_SALT_MOD == 0).select(
                (F.col("doc_id") + F.lit(off)).alias("doc_id"), "text"
            )
        )
    edges = dedup.duplicate_chain_edges(salted)
    # dup-cluster label relation ~ 0.1% of the corpus: width-32 rounds
    # are pure fixed overhead at test SF (and the same argument sizes
    # the width to the dup keyspace at 100 TB)
    return dedup.connected_components(edges, shuffle_partitions=8)


@register(
    "data_exact_stratified_take",
    sampling.exact_stratified_take_oracle_sql(),
)
def data_exact_stratified_take(spark, sf_dir):
    """Exactly-k-per-source deterministic take (reservoir replacement
    for eval-set carving): md5-rank of the key within each source, one
    stratum exchange, guaranteed counts — vs the rate-based stratified
    sampler's in-expectation counts."""
    from . import sampling

    return sampling.exact_stratified_take(_docs(spark, sf_dir))


_CANON_BLOAT_MOD = 40
_CANON_BLOAT_OFF = 30_000_000


def _canon_salted_spark(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bloated = docs.where(F.col("doc_id") % _CANON_BLOAT_MOD == 0).select(
        (F.col("doc_id") + _CANON_BLOAT_OFF).alias("doc_id"),
        F.regexp_replace("text", " ", "  ").alias("text"),
    )
    return docs.unionByName(bloated)


def _canon_salted_sql():
    return (
        "(SELECT doc_id, text FROM documents UNION ALL "
        f"SELECT doc_id + {_CANON_BLOAT_OFF} AS doc_id, "
        "regexp_replace(text, ' ', '  ', 'g') AS text FROM documents "
        f"WHERE doc_id % {_CANON_BLOAT_MOD} = 0) salted"
    )


@register(
    "dedup_canonical_select",
    dedup.canonical_select_oracle_sql(table=_canon_salted_sql()),
)
def dedup_canonical_select(spark, sf_dir):
    """Quality-ordered canonical selection: per normalized-content
    cluster keep the MOST COMPLETE copy (most raw chars, tie lowest id)
    — the salted corpus plants whitespace-bloated high-id duplicates
    whose canonical must be the bloated copy, proving the quality order
    genuinely overrides exact_dedup's keep-lowest-key."""
    return dedup.canonical_select(_canon_salted_spark(spark, sf_dir))


def _mm_oracle():
    from . import multimodal as mm

    return mm.image_features_oracle_sql()


@register("mm_image_feature_pipeline", _mm_oracle())
def mm_image_feature_pipeline(spark, sf_dir):
    """Binary media columns -> Arrow-batched pandas-UDF decode -> features.
    The deterministic fake decoder tiles the payload's md5 digest
    (multimodal._decode_backend), which has a closed SQL form — so this
    pipeline is fully oracle-gated even though the decode itself runs in
    mapInPandas over binary payloads built from the documents table."""
    from . import multimodal as mm

    media = mm.media_from_documents(_docs(spark, sf_dir))
    return mm.extract_image_features(media)


def _mm_audio_oracle():
    from . import multimodal as mm

    return mm.audio_features_oracle_sql()


@register("mm_audio_feature_stats", _mm_audio_oracle())
def mm_audio_feature_stats(spark, sf_dir):
    """Audio media columns -> Arrow-batched fake-PCM decode -> loudness
    features (n_samples / duration / mean / peak / rms). Exact integer
    sums then one IEEE division/sqrt, so DuckDB compares bit-for-bit."""
    from . import multimodal as mm

    media = mm.audio_from_documents(_docs(spark, sf_dir))
    return mm.extract_audio_features(media)


def _mm_afp_oracle():
    from . import multimodal as mm

    return mm.audio_fingerprint_oracle_sql()


@register("mm_audio_fingerprint", _mm_afp_oracle())
def mm_audio_fingerprint(spark, sf_dir):
    """Energy-delta acoustic fingerprints over the fake-PCM decode — the
    audio counterpart of the image phash (robust to global gain), exact
    integer window sums keep the DuckDB oracle bit-for-bit."""
    from . import multimodal as mm

    media = mm.audio_from_documents(_docs(spark, sf_dir))
    return mm.audio_fingerprint(media)


def _mm_frames_oracle():
    from . import multimodal as mm

    return mm.frame_sample_stats_oracle_sql()


@register("mm_video_frame_sample", _mm_frames_oracle())
def mm_video_frame_sample(spark, sf_dir):
    """Video-style frame sampling fused with per-frame stats in one
    mapInPandas pass (1->N fan-out never leaves the task): frame_sum
    checks the decode, first_byte pins the per-frame temporal shift."""
    from . import multimodal as mm

    media = mm.media_from_documents(_docs(spark, sf_dir))
    return mm.frame_sample_stats(media)


_PIPE_QUALITY_MIN = 0.15


def _doc_pipeline_oracle() -> str:
    """Composite oracle assembled from the same per-op generators the
    standalone queries use, so the two stay in lockstep."""
    stats = textstats.token_stats_oracle_sql()
    lang = textstats.language_id_oracle_sql()
    fp = textstats.fingerprint_oracle_sql()
    return f"""
    WITH stats AS ({stats}),
    lang AS ({lang}),
    fp AS ({fp}),
    joined AS (
      SELECT s.doc_id, l.predicted_lang, s.ws_tokens, s.quality, f.fp_md5
      FROM stats s
      JOIN lang l ON l.doc_id = s.doc_id
      JOIN fp f ON f.doc_id = s.doc_id
      WHERE s.quality >= {_PIPE_QUALITY_MIN}
    )
    SELECT doc_id, predicted_lang, ws_tokens, quality
    FROM joined
    WHERE doc_id IN (SELECT min(doc_id) FROM joined GROUP BY fp_md5)
    """


@register("doc_training_pipeline", _doc_pipeline_oracle())
def doc_training_pipeline(spark, sf_dir):
    """The end-to-end training-data shape: quality gate -> language tag ->
    content dedup, composed from the datapipe primitives as one DataFrame
    chain (all map-side except the final dedup shuffle on fp_md5)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    stats = textstats.token_stats(docs).select("doc_id", "ws_tokens", "quality")
    lang = textstats.language_id(docs).select("doc_id", "predicted_lang")
    fp = textstats.fingerprint(docs).select("doc_id", "fp_md5")
    joined = (
        stats.where(F.col("quality") >= _PIPE_QUALITY_MIN)
        .join(lang, "doc_id")
        .join(fp, "doc_id")
    )
    w = Window.partitionBy("fp_md5")
    return (
        joined.withColumn("__keep", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__keep"))
        .select("doc_id", "predicted_lang", "ws_tokens", "quality")
    )


@register("text_language_id", textstats.language_id_oracle_sql())
def text_language_id(spark, sf_dir):
    return textstats.language_id(_docs(spark, sf_dir))


@register("text_token_stats", textstats.token_stats_oracle_sql())
def text_token_stats(spark, sf_dir):
    return textstats.token_stats(_docs(spark, sf_dir))


@register("text_fingerprint", textstats.fingerprint_oracle_sql())
def text_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


@register("text_repetition_stats", textstats.repetition_stats_oracle_sql())
def text_repetition_stats(spark, sf_dir):
    """Gopher-family repetition quality signals (duplicate word/n-gram
    fractions, most-common-word share) — map-only array expressions."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


@register("text_decontaminate", textstats.decontaminate_oracle_sql())
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus documents sharing any word 3-gram
    with the held-out benchmark slice are dropped (broadcast gram
    semi-join + anti join — the pre-training test-set-leakage gate)."""
    return textstats.decontaminate(_docs(spark, sf_dir))


from . import sampling  # noqa: E402


@register("data_mix_hash_sample", sampling.hash_sample_oracle_sql())
def data_mix_hash_sample(spark, sf_dir):
    """Deterministic stratified mixture sampling: per-language keep rates
    decided by an md5-prefix threshold — map-only, RNG-free, reproducible
    across reruns (the 100-TB data-mixing primitive)."""
    return sampling.stratified_hash_sample(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register("data_temperature_mix", sampling.temperature_mix_oracle_sql())
def data_temperature_mix(spark, sf_dir):
    """alpha=0.5 temperature-balanced source mixing (XLM-R/mT5 sampler):
    per-source rates computed FROM the data (n_s^0.5, flattening head
    sources), materialized as a salted md5-threshold hash sample — one
    tiny source groupBy + broadcast join + map-only filter; sqrt/floor
    integer-micro-unit discipline keeps both engines bit-identical."""
    return sampling.temperature_mix(_docs(spark, sf_dir))


@register("text_vocab_topk", sampling.vocab_topk_oracle_sql())
def text_vocab_topk(spark, sf_dir):
    """Corpus-level vocabulary top-k (occurrences + document frequency):
    explode -> map-side-combined hash aggregation -> top-k, the
    tokenizer-training wordcount shape."""
    return sampling.vocab_topk(_docs(spark, sf_dir))


@register("text_crossdoc_overlap", textstats.crossdoc_ngram_overlap_oracle_sql())
def text_crossdoc_overlap(spark, sf_dir):
    """Cross-document n-gram duplication fraction (C4 boilerplate
    signal): distinct (doc, gram) first, gram document-frequency as a
    window over that relation, per-doc aggregate — corpus-sublinear
    exchanges only."""
    return textstats.crossdoc_ngram_overlap(_docs(spark, sf_dir))


@register("text_gopher_rules", textstats.gopher_rules_oracle_sql())
def text_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality filter (word-count bounds, mean word
    length, alphabetic-word fraction, stop-word presence) — map-only
    array expressions, every threshold an integer cross-multiplication
    so the oracle agrees bit-for-bit."""
    return textstats.gopher_rules(_docs(spark, sf_dir))


@register("text_pii_scrub", sampling.pii_scrub_oracle_sql(table=sampling.PII_SALTED_ORACLE_CTE))
def text_pii_scrub(spark, sf_dir):
    """PII redaction (emails/phones/IPv4) with per-kind hit counts —
    map-only regexp expressions in the RE2/Java dialect intersection.
    The synthetic corpus carries no PII, so deterministic emails/phones/
    IPs are salted into every third document on BOTH sides first — the
    gate is non-vacuous (hundreds of real redactions)."""
    return sampling.pii_scrub(sampling.salt_pii(_docs(spark, sf_dir)))


def _mm_salted_docs(spark, sf_dir):
    """Documents with planted duplicate payloads: ids with doc_id%10 in
    (0,1) take their group base's text, so identical fake-decode phashes
    exist and the near-dup gate is non-vacuous."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
    )
    # inner, matching _MM_SALTED_SQL's JOIN: the gate must not depend on
    # whether every group-base doc_id exists in the corpus
    joined = d.join(
        base, F.expr("b_id = doc_id - (doc_id % 10)"), "inner"
    )
    return joined.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 2, F.col("b_text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )


_MM_SALTED_SQL = """(
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 10 < 2 THEN b.text ELSE d.text END AS text
    FROM documents d
    JOIN documents b ON b.doc_id = d.doc_id - (d.doc_id % 10)
)"""


def _phash_near_dup_oracle():
    from . import multimodal as mm

    feats = mm.image_features_oracle_sql(table=_MM_SALTED_SQL)
    half = "CAST('0x' || substr({side}.phash, {lo}, 8) AS BIGINT)"
    h = " + ".join(
        f"bit_count(xor({half.format(side='a', lo=lo)}, {half.format(side='b', lo=lo)}))"
        for lo in (1, 9)
    )
    return f"""
    WITH feats AS ({feats})
    SELECT a.media_id AS media_a, b.media_id AS media_b, {h} AS hamming
    FROM feats a JOIN feats b ON a.media_id < b.media_id
    WHERE {h} <= 3
    """


@register(
    "streaming_stateful_dedup",
    f"""
    SELECT MIN(doc_id) AS doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM {_MM_SALTED_SQL}
    GROUP BY 2
    """,
)
def streaming_stateful_dedup(spark, sf_dir):
    """Cross-micro-batch stateful dedup (applyInPandasWithState): the
    salted corpus streams through THREE doc-id-ordered micro-batches with
    first-seen-wins state in the checkpoint; the survivor per content
    fingerprint is the minimum doc_id, which the oracle computes closed
    form. Emission is executor-side parquet per epoch."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    from ..streaming.stateful import streaming_exact_dedup

    _pin(spark)
    docs = _mm_salted_docs(spark, sf_dir)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_sdedup/{key}"
    marker = f"{staged}/_READY"
    if not os.path.exists(marker):
        shutil.rmtree(staged, ignore_errors=True)
        os.makedirs(staged, exist_ok=True)
        hi = docs.agg(F.max("doc_id")).collect()[0][0]
        third = (hi + 3) // 3
        now = time.time()
        for b in range(3):
            d = os.path.join(staged, f"b{b}")
            docs.where(
                (F.col("doc_id") >= b * third) & (F.col("doc_id") < (b + 1) * third)
            ).coalesce(1).write.mode("overwrite").json(d)
            for fn in os.listdir(d):
                if fn.endswith(".json"):
                    os.utime(os.path.join(d, fn), (now + b, now + b))
        with open(marker, "w") as f:
            f.write("ok")
    work = tempfile.mkdtemp(prefix="cdc_sdedup_")
    # Emit OUTSIDE the about-to-be-rmtree'd work dir so the result can be
    # returned as a lazy parquet read instead of collect()ing the full
    # survivor set through the driver (corpus-proportional => driver OOM
    # at a real scale factor; r11 verdict).  Per-invocation subdir under
    # the persistent root: only PREDECESSOR runs are deleted, so the
    # previous invocation's returned DataFrame stays readable until the
    # run after next (ADVICE r12).
    from ..streaming.windowed import rotate_emit_dir

    emit = rotate_emit_dir(f"{staged}_emit")
    from ..streaming.epoch import run_available_now

    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .json(os.path.join(staged, "b*"))
    )
    run_available_now(
        spark,
        streaming_exact_dedup(stream),
        os.path.join(work, "ckpt"),
        lambda bdf, _id: bdf.write.mode("append").parquet(emit),
        partitions=8,
    )
    shutil.rmtree(work, ignore_errors=True)  # checkpoint state only
    return spark.read.schema("doc_id LONG, fingerprint STRING").parquet(emit)


@register("mm_phash_near_dup", _phash_near_dup_oracle())
def mm_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection over the media pipeline:
    banded self-join on phash nibbles (pigeonhole-LOSSLESS at hamming<=3
    with 4 bands: some band must match exactly) + exact hamming re-rank.
    The oracle recomputes every phash closed-form in SQL and does the
    exact all-pairs join — candidates-only vs all-pairs must agree."""
    from . import multimodal as mm

    media = mm.media_from_documents(
        _mm_salted_docs(spark, sf_dir).withColumn(
            "lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
            "n_chars", F.length("text"))
    )
    feats = mm.extract_image_features(media)
    return mm.near_dup_by_phash(feats, max_hamming=3)


def _packing_oracle():
    from . import packing

    return packing.pack_sequences_oracle_sql()


@register("data_pack_sequences", _packing_oracle())
def data_pack_sequences(spark, sf_dir):
    """Sequence packing (fixed-token-budget training windows): sharded
    greedy start-offset packing — one hash shuffle on the shard key, one
    prefix-sum window per shard, packs never cross shards so the plan is
    embarrassingly parallel at corpus scale."""
    from . import packing

    return packing.pack_sequences(_docs(spark, sf_dir))


@register("text_bigram_logprob", sampling.bigram_logprob_oracle_sql())
def text_bigram_logprob(spark, sf_dir):
    """Add-one-smoothed bigram conditional model fit on the corpus and
    scored per doc — KenLM-lite typicality one order above unigram."""
    return sampling.bigram_logprob(_docs(spark, sf_dir))


@register("text_unigram_logprob", sampling.unigram_logprob_oracle_sql())
def text_unigram_logprob(spark, sf_dir):
    """CCNet-style corpus-model quality proxy: mean add-one-smoothed
    unigram negative log-probability per document — token counts via
    map-side-combined aggregation, scoring via a token-key join, DECIMAL
    aggregation for cross-engine float determinism."""
    return sampling.unigram_logprob(_docs(spark, sf_dir))


@register(
    "sim_quantized_topk",
    similarity.quantized_topk_oracle_sql(n_queries=N_SIM_QUERIES),
)
def sim_quantized_topk(spark, sf_dir):
    """int8-quantized cosine top-k: byte codes + integer dot products
    rescaled per vector — the memory/bandwidth shape of billion-vector
    scans; the quantization grid is deterministic so the oracle replays
    quantized ranks exactly."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(f"vec_id < {N_SIM_QUERIES}")
    return similarity.quantized_topk(embs, queries)


def _chunking_oracles():
    from . import chunking

    return (
        chunking.chunk_documents_oracle_sql(),
        chunking.epoch_shuffle_oracle_sql(),
        chunking.source_cap_oracle_sql(),
    )


_CHUNK_SQL, _SHUF_SQL, _CAP_SQL = _chunking_oracles()


@register("data_chunk_overlap", _CHUNK_SQL)
def data_chunk_overlap(spark, sf_dir):
    """Sliding-window document chunking (HuggingFace-style stride): the
    context-window splitting step before tokenization. MAP-ONLY — tokenize,
    compute the chunk count, explode a sequence; no shuffle at any corpus
    size, chunk text gated by md5 to keep the verified rows narrow."""
    from . import chunking

    return chunking.chunk_documents(_docs(spark, sf_dir))


@register("data_epoch_shuffle", _SHUF_SQL)
def data_epoch_shuffle(spark, sf_dir):
    """Deterministic seeded epoch permutation as (shard, pos-in-shard):
    seeded-md5 prefix shards (256), rank-within-shard window — one hash
    exchange, no global sort / single reducer; a new seed is a brand-new
    permutation with zero stored state."""
    from . import chunking

    return chunking.epoch_shuffle(_docs(spark, sf_dir), seed=0)


@register("data_source_cap", _CAP_SQL)
def data_source_cap(spark, sf_dir):
    """Per-source quality caps (anti single-site domination): keep the
    top-N documents per source by the quality column — one exchange on
    source + a rank-bounded window; a dominant source is bounded by its
    own row count."""
    from . import chunking

    return chunking.source_cap(_docs(spark, sf_dir))


def _tfidf_oracle():
    from . import ranking

    return ranking.tfidf_topk_oracle_sql()


@register("text_tfidf_topk", _tfidf_oracle())
def text_tfidf_topk(spark, sf_dir):
    """tf-idf-ordered top-k terms per document with a float-free ordering
    triple (tf DESC, df ASC, term ASC): explode -> map-side-combined tf ->
    df from the tf relation -> shuffle join on term -> bounded per-doc
    window. The exact score is the (tf, df) integer pair."""
    from . import ranking

    return ranking.tfidf_topk(_docs(spark, sf_dir))


def _dsir_oracle():
    from . import ranking

    return ranking.dsir_importance_oracle_sql()


@register("data_dsir_select", _dsir_oracle())
def data_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    features (md5-prefix string buckets, portable across engines), raw and
    target histograms from ONE groupBy, a <=4096-row broadcast log-ratio
    model, per-doc DECIMAL-summed scores, deterministic top-k by
    (score DESC, doc_id)."""
    from . import ranking

    return ranking.dsir_importance(_docs(spark, sf_dir))


def _sessions_native_oracle():
    from . import sessions

    return sessions.sessionize_native_oracle_sql(
        table=sessions.boundary_probe_table_sql()
    )


@register("events_session_window_native", _sessions_native_oracle())
def events_session_window_native(spark, sf_dir):
    """Spark's BUILT-IN session_window operator (the Structured-Streaming
    session code path, run in batch) gated against an independent gap-scan
    oracle. Boundary rule (verified on 4.1.2, pinned by the unioned
    exact-gap probe rows): an event at exactly t+gap MERGES into the
    session; only diff > gap splits — same boundary as the lag-based
    events_sessionize. Both run on environment-invariant integer micros."""
    from . import sessions
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return sessions.sessionize_native(sessions.with_boundary_probe(ev))


def _asof_oracle():
    from . import features

    return features.asof_enrich_oracle_sql()


@register("events_asof_enrich", _asof_oracle())
def events_asof_enrich(spark, sf_dir):
    """As-of join (latest order of the same user at-or-before each
    event): the MERGE formulation — tag + union both sides, one hash
    exchange on the user key, per-key sort, last(ignorenulls) carry —
    never the per-key range cross-join. Oracle is the independent naive
    range-join + rank-1 formulation."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    src = ParquetTableSource(spark, sf_dir)
    ev = _spread(_pin(spark), src.snapshot("events"))
    orders = src.snapshot("orders")
    return features.asof_enrich(ev, orders)


def _rolling_oracle():
    from . import features

    return features.rolling_event_features_oracle_sql()


@register("events_rolling_features", _rolling_oracle())
def events_rolling_features(spark, sf_dir):
    """Trailing 7-day per-user event features (count + exact-decimal
    sum): one exchange on user_id + a RANGE-framed window over integer
    micros; DECIMAL(18,6) summation so both engines agree exactly."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return features.rolling_event_features(ev)


def _split_oracle():
    from . import sampling

    return sampling.hash_split_oracle_sql()


@register("data_hash_split", _split_oracle())
def data_hash_split(spark, sf_dir):
    """Deterministic md5-prefix train/val/test split labels — map-only,
    growth-stable (a doc's split never changes as the corpus evolves)."""
    from . import sampling

    return sampling.hash_split(_docs(spark, sf_dir))


def _funnel_oracle():
    from . import features

    return features.funnel_stages_oracle_sql()


@register("events_funnel_stages", _funnel_oracle())
def events_funnel_stages(spark, sf_dir):
    """Ordered view->click->purchase funnel per user within a 7-day
    window: three conditional-min windows sharing ONE partitionBy(user)
    exchange. Oracle is the independent stepwise-aggregate join
    formulation."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return features.funnel_stages(ev)


def _transitions_oracle():
    from . import features

    return features.event_transitions_oracle_sql()


@register("events_transition_matrix", _transitions_oracle())
def events_transition_matrix(spark, sf_dir):
    """First-order Markov transition counts of per-user event sequences
    (lead over one user exchange + map-side-combined global count)."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return features.event_transitions(ev)


def _retention_oracle():
    from . import features

    return features.retention_cohorts_oracle_sql()


@register("events_retention_cohorts", _retention_oracle())
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention (first-seen-day cohorts x active-day offsets,
    distinct users): cohort day from a min window over the ONE user
    exchange, integer-div day buckets from invariant micros — three
    sublinear-key exchanges, no floats."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return features.retention_cohorts(ev)


def _quantiles_oracle():
    from . import features

    return features.value_quantiles_oracle_sql()


@register("events_value_quantiles", _quantiles_oracle())
def events_value_quantiles(spark, sf_dir):
    """Exact discrete quantiles (PERCENTILE_DISC ordered-set aggregate)
    of value-cents per event type — disc on integers, so no
    interpolation arithmetic can diverge engines; one group exchange."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return features.value_quantiles(ev)


def _outliers_oracle():
    from . import features

    return features.value_outliers_oracle_sql()


@register("events_value_outliers", _outliers_oracle())
def events_value_outliers(spark, sf_dir):
    """Integer-exact 3-sigma outliers per event type: the z-score rule
    squared into (n*x - sum)^2 > k^2*(n*sumsq - sum^2) so no mean/std
    float is ever materialized — one bounded-key aggregate broadcast
    back onto a map-only filter."""
    from . import features
    from ..sources.parquet_source import ParquetTableSource

    ev = _spread(_pin(spark), ParquetTableSource(spark, sf_dir).snapshot("events"))
    return features.value_outliers(ev)


def _corpus_pipeline_oracle() -> str:
    """Composite oracle for the v2 corpus pipeline — exact dedup ->
    overlapping-chunk -> sharded epoch shuffle -> split labels — chained
    from the same per-op SQL generators the standalone rows use."""
    from . import chunking, sampling

    survivors = """
      SELECT doc_id, text FROM documents
      WHERE doc_id IN (
        SELECT min(doc_id) FROM documents
        GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
      )
    """
    chunks = chunking.chunk_documents_oracle_sql(table=f"({survivors})")
    shuffle = chunking.epoch_shuffle_oracle_sql(
        table="(SELECT doc_id * 10000 + chunk_idx AS chunk_key, * FROM chunks)",
        key="chunk_key",
    )
    split = sampling.hash_split_oracle_sql(table="documents")
    return f"""
    WITH chunks AS ({chunks}),
    shuffled AS ({shuffle}),
    splits AS ({split})
    SELECT c.doc_id, c.chunk_idx, c.n_tok, s.shard, s.pos, sp.split
    FROM chunks c
    JOIN shuffled s ON s.doc_id = c.doc_id * 10000 + c.chunk_idx
    JOIN splits sp ON sp.doc_id = c.doc_id
    """


def corpus_training_pipeline_v2(spark, sf_dir):
    """RETIRED from the registry (r13 capacity policy): every stage is a
    standalone oracle-gated registry row (exact dedup, chunking, epoch
    shuffle, hash split) and the curriculum composition is gated by
    `corpus_training_pipeline_v3`; this composition is now pinned by the
    named pytest tests/test_corpus_pipeline_v2.py, which runs exactly
    this dataflow against `_corpus_pipeline_oracle()` in DuckDB.

    The corpus-shaping half of the training pipeline composed
    end-to-end: exact content dedup (narrow fingerprint shuffle +
    broadcast semi-join back) -> overlapping token-window chunking
    (map-only explode) -> sharded epoch shuffle over chunks (one hash
    exchange, no global sort) -> growth-stable train/val/test labels
    (map-only). Every stage is the standalone oracle-gated op; this row
    gates their COMPOSITION."""
    from pyspark.sql import functions as F

    from . import chunking, dedup, sampling

    docs = _docs(spark, sf_dir)
    keepers = dedup.exact_dedup(docs).select("doc_id")
    # corpus-proportional keeper set: un-hinted semi-join (AQE decides)
    survivors = docs.join(keepers, "doc_id", "left_semi").select(
        "doc_id", "text"
    )
    chunks = chunking.chunk_documents(survivors)
    keyed = chunks.withColumn(
        "chunk_key", F.col("doc_id") * 10000 + F.col("chunk_idx")
    )
    shuffled = chunking.epoch_shuffle(keyed, key="chunk_key").withColumnRenamed(
        "doc_id", "chunk_key_out"
    )
    splits = sampling.hash_split(docs)
    return (
        keyed.join(shuffled, keyed.chunk_key == shuffled.chunk_key_out)
        .join(splits, "doc_id")
        .select("doc_id", "chunk_idx", "n_tok", "shard", "pos", "split")
    )


@register("text_bpe_pair_counts", sampling.bpe_pair_counts_oracle_sql())
def text_bpe_pair_counts(spark, sf_dir):
    """Top-k adjacent character pairs weighted by word occurrences — the
    statistic BPE tokenizer training's first merge step maximizes.
    Map-only pair explode + map-side-combined count; pair cardinality is
    alphabet-squared."""
    from . import sampling

    return sampling.bpe_pair_counts(_docs(spark, sf_dir))


@register(
    "join_salted_skew",
    """
    SELECT o_orderstatus,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_salted_skew(spark, sf_dir):
    """Salted replicated join (the beyond-AQE hot-key fix): lineitem
    scattered across 16 salted replicas of orders, joined on
    (orderkey, salt), aggregated — output must equal the PLAIN join's
    (the oracle). Money in exact integer cents."""
    from pyspark.sql import functions as F

    from ..sources.parquet_source import ParquetTableSource
    from . import skew

    src = ParquetTableSource(_pin(spark), sf_dir)
    li = src.snapshot("lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = src.snapshot("orders").select("o_orderkey", "o_orderstatus")
    joined = skew.salted_join(
        li.withColumn(
            "__uniq",
            F.col("l_orderkey") * 100 + F.col("l_linenumber"),
        ).withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        key="o_orderkey",
        salt_by="__uniq",
    )
    return joined.groupBy("o_orderstatus").agg(
        F.sum(
            F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").cast(
                "decimal(38,0)"
            )
        ).cast("bigint").alias("revenue_cents"),
        F.count("*").cast("bigint").alias("n"),
    )


def _corpus_v3_oracle():
    """Composite oracle for the v3 curriculum pipeline — Gopher rule
    filter -> DSIR importance top-k -> temperature source mixing ->
    split labels — chained from the same per-op SQL generators."""
    from . import ranking, sampling, textstats

    gopher = textstats.gopher_rules_oracle_sql()
    dsir = ranking.dsir_importance_oracle_sql(table="kept")
    mix = sampling.temperature_mix_oracle_sql(table="selected", target_rows=120)
    split = sampling.hash_split_oracle_sql(table="documents")
    return f"""
    WITH gr AS ({gopher}),
    kept AS (
      SELECT d.* FROM documents d JOIN gr ON gr.doc_id = d.doc_id AND gr.keep
    ),
    sel AS ({dsir}),
    selected AS (
      SELECT k.* FROM kept k JOIN sel ON sel.doc_id = k.doc_id
    ),
    mixed AS ({mix}),
    splits AS ({split})
    SELECT m.doc_id, m.source, m.lang, s.score, sp.split
    FROM mixed m
    JOIN sel s ON s.doc_id = m.doc_id
    JOIN splits sp ON sp.doc_id = m.doc_id
    """


@register("corpus_training_pipeline_v3", _corpus_v3_oracle())
def corpus_training_pipeline_v3(spark, sf_dir):
    """The curriculum-shaping half of the training pipeline composed
    end-to-end: Gopher rule filter (map-only integer thresholds) -> DSIR
    importance top-k toward the target distribution (two corpus passes,
    broadcast log-ratio model) -> alpha=0.5 temperature source mixing
    (rates FROM the surviving data) -> growth-stable split labels.
    Every stage is the standalone oracle-gated op; this row gates their
    COMPOSITION — each stage's input is the previous stage's survivors,
    so rate/model fitting happens on the filtered corpus, not the raw
    one."""
    from . import ranking, sampling, textstats

    docs = _docs(spark, sf_dir)
    keep = textstats.gopher_rules(docs).where("keep").select("doc_id")
    # gopher survivors are a constant fraction of the corpus: un-hinted
    kept = docs.join(keep, "doc_id", "left_semi")
    sel = ranking.dsir_importance(kept)
    selected = kept.join(F.broadcast(sel.select("doc_id")), "doc_id", "left_semi")
    mixed = sampling.temperature_mix(selected, target_rows=120)
    splits = sampling.hash_split(docs)
    return (
        mixed.select("doc_id", "source", "lang")
        .join(F.broadcast(sel.select("doc_id", "score")), "doc_id")
        .join(splits, "doc_id")
        .select("doc_id", "source", "lang", "score", "split")
    )


# -- corpus-wide line dedup (r11) --------------------------------------------

_LD_FOOTER_A = "Subscribe to our newsletter for weekly updates"
_LD_FOOTER_B = "All rights reserved - terms of service apply"


def _line_salted_spark(spark, sf_dir):
    """Plant cross-doc boilerplate footer lines on overlapping subsets
    of the corpus (1/3 and 1/2 of docs) — each occurs in far more than
    LINE_DEDUP_MIN_DOCS documents, so line_dedup must strip them while
    keeping every document's own lines."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\n" + _LD_FOOTER_A)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 2 == 0, F.lit("\n" + _LD_FOOTER_B)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def _line_salted_sql():
    return (
        "(SELECT doc_id, text"
        f" || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '{_LD_FOOTER_A}' ELSE '' END"
        f" || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '{_LD_FOOTER_B}' ELSE '' END"
        " AS text FROM documents) line_salted"
    )


@register("text_line_dedup", textstats.line_dedup_oracle_sql(table=_line_salted_sql()))
def text_line_dedup(spark, sf_dir):
    """C4/RefinedWeb corpus-wide line dedup: normalized lines occurring
    in >= 3 distinct documents are boilerplate and removed; the planted
    footer lines must vanish from every salted doc while unique lines
    survive (content_fp pins the exact kept text per doc)."""
    return textstats.line_dedup(_line_salted_spark(spark, sf_dir))


# -- linear quality-classifier scoring (r11) ---------------------------------


@register("text_quality_classifier", textstats.linear_quality_score_oracle_sql())
def text_quality_classifier(spark, sf_dir):
    """fastText/CCNet-style linear quality scoring: every doc scored
    against a (term -> weight) model — here the deterministic top-2048
    vocab synthetic model — via a bounded broadcast join + integer dot
    product; keep/drop by the cross-multiplied mean-score test. The
    production counterpart of unigram_logprob (CCNet runs exactly this
    pair). Zero UDFs."""
    docs = _docs(spark, sf_dir)
    return textstats.linear_quality_score(docs, textstats.hash_weight_model(docs))
