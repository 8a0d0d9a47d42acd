"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force cosine top-k. The (tiny) query set is
  broadcast, so the plan is a broadcast-nested-loop join + per-query
  window top-k: one pass over the corpus, no shuffle of the corpus
  except the final per-query aggregation — the right baseline at any
  scale where queries are few.
- ``lsh_buckets`` / ``ann_topk``: random-hyperplane LSH. Signatures are
  computed corpus-side with built-in expressions (hyperplanes are
  deterministic literals, seed fixed), candidates = signature-band
  equality join (shuffle keyed by band, never |corpus| x |queries|),
  then exact cosine re-rank of the candidate set.

Determinism: hyperplanes are generated from a fixed seed and rounded to
4 decimals; cosine is rounded to 4 decimals with (score DESC, id ASC)
tie-break, so Spark and the DuckDB oracle produce identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

LSH_PLANES = 16
LSH_BANDS = 4          # 4 bands x 4 bits
EMBED_DIM = 64
PLANE_SEED = 7
TOPK_DEFAULT = 5


def _planes():
    import numpy as np

    rng = np.random.default_rng(PLANE_SEED)
    return [
        [round(float(v), 4) for v in rng.normal(size=EMBED_DIM)]
        for _ in range(LSH_PLANES)
    ]


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)), "
        f"cast(0 AS double), (acc, v) -> acc + v)"
    )


def _unit_expr(vec: str) -> str:
    return f"transform({vec}, x -> cast(x AS double) / sqrt({_dot(vec, vec)}))"


def _dot_duck(a: str, b: str) -> str:
    # sequential left fold, mirroring Spark's aggregate()
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {EMBED_DIM} + 1), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


def _unit_duck(vec: str) -> str:
    self_dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({vec}, x -> x::DOUBLE * x::DOUBLE)), (acc, v) -> acc + v)"
    )
    return f"list_transform({vec}, x -> x::DOUBLE / sqrt({self_dot}))"


# --------------------------------------------------------------------------
# brute-force cosine top-k
# --------------------------------------------------------------------------


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k nearest corpus vectors per query vector by cosine.

    queries must be small (it is broadcast). Self-matches excluded.
    """
    c = corpus.selectExpr(f"{key} AS nbr_id", f"{_unit_expr(vec)} AS cu")
    q = queries.selectExpr(f"{key} AS query_id", f"{_unit_expr(vec)} AS qu")
    scored = (
        c.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            F.round(F.expr(_dot("qu", "cu")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cosine")
    )


def cosine_topk_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> str:
    return f"""
    WITH normed AS (
      SELECT {key}, {_unit_duck(vec)} AS u FROM {table}
    ),
    q AS (SELECT {key} AS query_id, u AS qu FROM normed WHERE {key} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{key} AS nbr_id, round({_dot_duck('q.qu', 'c.u')}, 4) AS cosine
      FROM normed c, q WHERE c.{key} <> q.query_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# LSH-bucketed ANN
# --------------------------------------------------------------------------


def _band_structs_spark(unit_col: str):
    """LSH band columns: sign bit per hyperplane, packed 4 bits per band."""
    planes = _planes()
    bits_per_band = LSH_PLANES // LSH_BANDS
    structs = []
    for b in range(LSH_BANDS):
        val = None
        for r in range(bits_per_band):
            p = planes[b * bits_per_band + r]
            arr = "array(" + ", ".join(f"cast({w} AS double)" for w in p) + ")"
            bit = F.when(F.expr(_dot(unit_col, arr)) > 0, F.lit(1 << r)).otherwise(F.lit(0))
            val = bit if val is None else val + bit
        structs.append(F.struct(F.lit(b).alias("band"), val.cast("int").alias("bv")))
    return structs


def lsh_buckets(df: DataFrame, key: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """(key, band, band-value, unit-vector) — the corpus index frame."""
    normed = df.selectExpr(key, f"{_unit_expr(vec)} AS u")
    return normed.select(
        key, "u", F.explode(F.array(*_band_structs_spark("u"))).alias("e")
    ).select(key, "u", F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share >= 1 LSH band with the query,
    exact cosine re-rank of candidates only."""
    c = lsh_buckets(corpus, key, vec).withColumnRenamed(key, "nbr_id").withColumnRenamed("u", "cu")
    q = lsh_buckets(queries, key, vec).withColumnRenamed(key, "query_id").withColumnRenamed("u", "qu")
    cand = (
        c.join(
            F.broadcast(q),
            (c["band"] == q["band"]) & (c["bv"] == q["bv"])
            & (F.col("nbr_id") != F.col("query_id")),
        )
        .select("query_id", "qu", "nbr_id", "cu")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "nbr_id",
        F.round(F.expr(_dot("qu", "cu")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------

IVF_CELLS = 16
IVF_NPROBE = 2
IVF_SEED = 11


def _centroids():
    """Seeded random unit centroids. A production index would k-means a
    corpus sample; the index/probe mechanics are identical and this keeps
    the oracle reproducible."""
    import numpy as np

    rng = np.random.default_rng(IVF_SEED)
    m = rng.normal(size=(IVF_CELLS, EMBED_DIM))
    m /= np.sqrt((m * m).sum(axis=1, keepdims=True))
    return [[round(float(v), 4) for v in row] for row in m]


def _ivf_scores_spark(unit_col: str, centroids=None) -> str:
    dots = []
    for c in (centroids if centroids is not None else _centroids()):
        arr = "array(" + ", ".join(f"cast({w} AS double)" for w in c) + ")"
        dots.append(_dot(unit_col, arr))
    return "array(" + ", ".join(dots) + ")"


def _ivf_scores_duck(unit_col: str) -> str:
    dots = []
    for c in _centroids():
        arr = "[" + ", ".join(f"CAST({w} AS DOUBLE)" for w in c) + "]"
        dots.append(_dot_duck(unit_col, arr))
    return "[" + ", ".join(dots) + "]"


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell; each
    query probes its IVF_NPROBE closest cells and exact-reranks only those
    cells' members. The cell assignment is one map-side pass; the probe
    join shuffles nothing (tiny query side broadcast)."""
    n_cells = len(centroids) if centroids is not None else IVF_CELLS
    c = (
        corpus.selectExpr(f"{key} AS nbr_id", f"{_unit_expr(vec)} AS cu")
        .withColumn("scores", F.expr(_ivf_scores_spark("cu", centroids)))
        .withColumn("cell", F.expr("array_position(scores, array_max(scores))"))
        .drop("scores")
    )
    q = (
        queries.selectExpr(f"{key} AS query_id", f"{_unit_expr(vec)} AS qu")
        .withColumn("scores", F.expr(_ivf_scores_spark("qu", centroids)))
        .withColumn("cell1", F.expr("array_position(scores, array_max(scores))"))
        .withColumn(
            "masked",
            F.expr(
                f"transform(sequence(1, {n_cells}), "
                "i -> IF(i = cell1, cast(-1e9 AS double), element_at(scores, i)))"
            ),
        )
        .withColumn("cell2", F.expr("array_position(masked, array_max(masked))"))
        .drop("scores", "masked")
    )
    cand = c.join(
        F.broadcast(q),
        ((c["cell"] == q["cell1"]) | (c["cell"] == q["cell2"]))
        & (F.col("nbr_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id", "nbr_id", F.round(F.expr(_dot("qu", "cu")), 4).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cosine")
    )


def ivf_topk_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> str:
    scores = _ivf_scores_duck("u")
    return f"""
    WITH normed AS (
      SELECT {key}, {_unit_duck(vec)} AS u FROM {table}
    ),
    scored AS (SELECT {key}, u, {scores} AS scores FROM normed),
    cells AS (
      SELECT {key}, u,
             list_position(scores, list_aggregate(scores, 'max')) AS cell,
             scores
      FROM scored
    ),
    q0 AS (SELECT {key} AS query_id, u AS qu, cell AS cell1, scores FROM cells WHERE {key} < {n_queries}),
    q AS (
      SELECT query_id, qu, cell1,
             list_position(masked, list_aggregate(masked, 'max')) AS cell2
      FROM (
        SELECT query_id, qu, cell1,
               list_transform(range(1, {IVF_CELLS} + 1),
                 i -> CASE WHEN i = cell1 THEN CAST(-1e9 AS DOUBLE) ELSE scores[i] END) AS masked
        FROM q0
      )
    ),
    cand AS (
      SELECT q.query_id, q.qu, c.{key} AS nbr_id, c.u AS cu
      FROM cells c JOIN q
        ON (c.cell = q.cell1 OR c.cell = q.cell2) AND c.{key} <> q.query_id
    ),
    scored2 AS (
      SELECT query_id, nbr_id, round({_dot_duck('qu', 'cu')}, 4) AS cosine FROM cand
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
      FROM scored2
    )
    SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


def ann_topk_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> str:
    planes = _planes()
    bits_per_band = LSH_PLANES // LSH_BANDS
    band_selects = []
    for b in range(LSH_BANDS):
        bits = []
        for r in range(bits_per_band):
            p = planes[b * bits_per_band + r]
            arr = "[" + ", ".join(f"CAST({w} AS DOUBLE)" for w in p) + "]"
            bits.append(f"(CASE WHEN {_dot_duck('u', arr)} > 0 THEN {1 << r} ELSE 0 END)")
        band_selects.append(
            f"SELECT {key}, u, {b} AS band, ({' + '.join(bits)})::INT AS bv FROM normed"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH normed AS (
      SELECT {key}, {_unit_duck(vec)} AS u FROM {table}
    ),
    bands AS ({bands}),
    q AS (SELECT {key} AS query_id, u AS qu, band, bv FROM bands WHERE {key} < {n_queries}),
    cand AS (
      SELECT DISTINCT q.query_id, q.qu, c.{key} AS nbr_id, c.u AS cu
      FROM bands c JOIN q ON c.band = q.band AND c.bv = q.bv AND c.{key} <> q.query_id
    ),
    scored AS (
      SELECT query_id, nbr_id, round({_dot_duck('qu', 'cu')}, 4) AS cosine FROM cand
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# int8-quantized top-k
# --------------------------------------------------------------------------


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k by int8-quantized cosine: integer dot products over byte
    codes, rescaled by the two per-vector scales. Deterministic (the
    quantization grid is fixed), so the oracle replays it exactly —
    quantized ranks, not float ranks."""
    int_dot = (
        "aggregate(zip_with(cq, qq, (x, y) -> x * y), 0, (acc, v) -> acc + v)"
    )

    def prep(df, key_alias, codes, scale):
        # stepwise projections keep `u` and `mx` as ATTRIBUTES between
        # steps: CollapseProject refuses to inline a non-cheap alias
        # referenced twice, so the quantization codegen stays linear in
        # dim instead of re-expanding the normalization under every use
        # (the single-select form compiled a function large enough to
        # thrash the codegen cache under the full benchmark)
        return (
            df.selectExpr(f"{key} AS {key_alias}", f"{_unit_expr(vec)} AS u")
            .selectExpr(
                key_alias,
                "u",
                "aggregate(u, cast(0 AS double), (m, x) -> greatest(m, abs(x))) AS mx",
            )
            .selectExpr(
                key_alias,
                f"transform(u, x -> cast(round(x * (127.0 / mx)) AS int)) AS {codes}",
                f"(mx / 127.0) AS {scale}",
            )
        )

    c = prep(corpus, "nbr_id", "cq", "cs")
    q = prep(queries, "query_id", "qq", "qs")
    scored = c.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id")).select(
        "query_id",
        "nbr_id",
        F.round(F.expr(int_dot) * F.col("cs") * F.col("qs"), 4).alias("qcosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "qcosine")
    )


def quantized_topk_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
) -> str:
    maxabs = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(u, x -> abs(x))), (m, x) -> greatest(m, x))"
    )
    return f"""
    WITH normed AS (
      SELECT {key}, {_unit_duck(vec)} AS u FROM {table}
    ), quant AS (
      SELECT {key},
             list_transform(u, x -> CAST(round(x * 127.0 / {maxabs}) AS INTEGER)) AS qv,
             {maxabs} / 127.0 AS s
      FROM normed
    ),
    q AS (SELECT {key} AS query_id, qv AS qq, s AS qs FROM quant WHERE {key} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{key} AS nbr_id,
             round(list_reduce(list_prepend(0,
               list_transform(range(1, {EMBED_DIM} + 1), i -> c.qv[i] * q.qq[i])),
               (acc, v) -> acc + v) * c.s * q.qs, 4) AS qcosine
      FROM quant c, q WHERE c.{key} <> q.query_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, qcosine,
             row_number() OVER (PARTITION BY query_id ORDER BY qcosine DESC, nbr_id ASC) AS rank
      FROM ranked_src
    )
    SELECT query_id, nbr_id, rank, qcosine FROM ranked WHERE rank <= {k}
    """.replace("FROM ranked_src", "FROM scored")


# --------------------------------------------------------------------------
# metadata-filtered top-k (filtered vector search)
# --------------------------------------------------------------------------

FILTER_LABELS = (0, 1)


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    labels=FILTER_LABELS,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
    label: str = "label",
) -> DataFrame:
    """Filtered vector search: top-k cosine neighbors restricted to
    corpus vectors whose metadata label is in `labels` — the production
    retrieval shape (tenant / language / freshness filters).

    PRE-filter by construction: the predicate lands in the parquet scan
    BEFORE normalization and the distance join, so the candidate set —
    and every downstream byte — shrinks first. Post-filtering a top-k
    would return < k rows and recall losses; pre-filtering keeps the
    top-k exact over the restricted set. Plan shape otherwise identical
    to cosine_topk (broadcast queries, per-query bounded window)."""
    c = corpus.where(F.col(label).isin(*labels)).selectExpr(
        f"{key} AS nbr_id", f"{_unit_expr(vec)} AS cu"
    )
    q = queries.selectExpr(f"{key} AS query_id", f"{_unit_expr(vec)} AS qu")
    scored = c.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id")).select(
        "query_id",
        "nbr_id",
        F.round(F.expr(_dot("qu", "cu")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cosine")
    )


def filtered_topk_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    labels=FILTER_LABELS,
    k: int = TOPK_DEFAULT,
    key: str = "vec_id",
    vec: str = "embedding",
    label: str = "label",
) -> str:
    lbl = ", ".join(str(x) for x in labels)
    return f"""
    WITH q AS (
      SELECT {key} AS query_id, {_unit_duck(vec)} AS qu
      FROM {table} WHERE {key} < {n_queries}
    ),
    c AS (
      SELECT {key} AS nbr_id, {_unit_duck(vec)} AS cu
      FROM {table} WHERE {label} IN ({lbl})
    ),
    scored AS (
      SELECT q.query_id, c.nbr_id, round({_dot_duck('q.qu', 'c.cu')}, 4) AS cosine
      FROM c, q WHERE c.nbr_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# hybrid retrieval: lexical candidate generation + vector re-rank
# --------------------------------------------------------------------------

HYBRID_TOPK = 5


def hybrid_retrieval(
    docs: DataFrame,
    embs: DataFrame,
    n_queries: int = 5,
    k: int = HYBRID_TOPK,
) -> DataFrame:
    """-> (query_id, nbr_id, rank, cosine): the RAG retrieval shape —
    LEXICAL candidate generation (a TRUE inverted-index probe: every
    document CONTAINING the query's top tf-idf term anywhere in its
    text, not just documents whose own top term matches — an equality
    join on the term postings, never all-pairs) followed by VECTOR
    re-ranking (cosine over the embedding column, bounded per-query
    window).

    Scale: candidate generation is one exchange on the term key,
    candidate count bounded by the term's document frequency, so the
    expensive vector math runs on a sliver of the corpus. The re-rank
    joins embeddings by id (broadcast the query-side). doc_id == vec_id
    in the test corpus."""
    from .ranking import _SPARK_WORDS, tfidf_topk

    top1 = tfidf_topk(docs, k=1).select("doc_id", "term")
    q_terms = top1.where(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), F.col("term").alias("q_term")
    )
    # the postings list: distinct (doc, term) pairs — the r9 advisor's
    # recall fix (a doc whose #2 term is the query term is a candidate)
    postings = docs.select(
        F.col("doc_id"),
        F.explode(F.expr(_SPARK_WORDS.format(col="text"))).alias("term"),
    ).distinct()
    cands = (
        postings.join(F.broadcast(q_terms), postings.term == q_terms.q_term)
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", F.col("doc_id").alias("nbr_id"))
    )
    unit = embs.selectExpr("vec_id", f"{_unit_expr('embedding')} AS u")
    q_unit = unit.selectExpr("vec_id AS query_id", "u AS qu")
    n_unit = unit.selectExpr("vec_id AS nbr_id", "u AS nu")
    scored = (
        cands.join(F.broadcast(q_unit), "query_id")
        .join(n_unit, "nbr_id")
        .select(
            "query_id",
            "nbr_id",
            F.round(F.expr(_dot("qu", "nu")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cosine")
    )


def hybrid_retrieval_oracle_sql(
    docs: str = "documents",
    embs: str = "embeddings",
    n_queries: int = 5,
    k: int = HYBRID_TOPK,
) -> str:
    from .ranking import _DUCK_WORDS, tfidf_topk_oracle_sql

    tfidf = tfidf_topk_oracle_sql(table=docs, k=1)
    words = _DUCK_WORDS.format(col="text")
    return f"""
    WITH top1 AS (SELECT doc_id, term FROM ({tfidf})),
    q_terms AS (
      SELECT doc_id AS query_id, term AS q_term FROM top1
      WHERE doc_id < {n_queries}
    ),
    postings AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest({words}) AS term FROM {docs}
      )
    ),
    cands AS (
      SELECT q.query_id, t.doc_id AS nbr_id
      FROM postings t JOIN q_terms q ON t.term = q.q_term
      WHERE t.doc_id <> q.query_id
    ),
    unit AS (SELECT vec_id, {_unit_duck('embedding')} AS u FROM {embs}),
    scored AS (
      SELECT c.query_id, c.nbr_id,
             round({_dot_duck('qu.u', 'nu.u')}, 4) AS cosine
      FROM cands c
      JOIN unit qu ON qu.vec_id = c.query_id
      JOIN unit nu ON nu.vec_id = c.nbr_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, nbr_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= {k}
    """
