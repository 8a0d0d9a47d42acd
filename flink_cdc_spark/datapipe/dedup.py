"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale notes (100 TB / 1000-executor design):
- exact dedup: one shuffle on the content fingerprint; map-side partial
  aggregation is free (hash aggregate).
- n-gram Jaccard & MinHash verification: inverted-index join (explode
  shingles, join on shingle) — work is proportional to the number of
  *shared* shingles, never |docs|². Ultra-frequent shingles should be
  dropped upstream (stop-shingle filter) or handled by AQE skew-join.
- SimHash pairs: banded self-join (pigeonhole: hamming ≤ 3 over 4 nibbles
  ⇒ at least one nibble equal), so the join key is (band, nibble-value),
  never a cross join.
- embedding near-dup: brute-force pair join is the correctness baseline;
  the LSH-bucketed variant in ``similarity.py`` is the scale path.

All hashing is md5 so the DuckDB oracle reproduces results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# --- shared constants (Spark impl and DuckDB oracle must agree) -----------

SHINGLE_N = 3           # word n-gram size
MINHASH_K = 8           # number of minhash functions
MINHASH_BANDS = 4       # LSH bands (rows per band = K / BANDS = 2)
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32       # one bit per md5 hex position
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4       # 8-bit bands for the pair join (pigeonhole: 3 < 4)
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS

# Pair results are eagerly localCheckpoint-ed so the exploded-shingle
# cache can be released before returning (the r7 bench-leak lesson).
# Plan audits flip this off to inspect the REAL pre-materialization plan
# (scripts/audit_plans.py): a checkpointed result explains as a bare
# ExistingRDD scan, hiding every exchange (r8 verdict audit blind spot).
MATERIALIZE_RESULTS = True


def _finalize(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize the (small) result, then release the backing caches.
    In audit mode (MATERIALIZE_RESULTS=False) returns the lazy plan
    as-is and leaves caches pinned-but-unmaterialized."""
    if not MATERIALIZE_RESULTS:
        return result
    out = result.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out
COSINE_DUP_THRESHOLD = 0.4

_NORM = "lower(trim(regexp_replace({col}, '\\\\s+', ' ')))"


def _shingle_sql_duckdb(text_col: str, n: int = SHINGLE_N) -> str:
    toks = f"string_split_regex(lower(trim({text_col})), '\\s+')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Keep the lowest-key row per normalized-content fingerprint.

    One hash-aggregate shuffle on the md5 fingerprint; at 100 TB the
    fingerprint is tiny vs the payload, so pre-project (key, fingerprint),
    dedup, then semi-join back to fetch surviving payloads.
    """
    fp = F.md5(F.expr(_NORM.format(col=text)))
    return (
        df.select(F.col(key), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(key).alias(key), F.count("*").alias("dup_count"))
        .select(key, "fingerprint", "dup_count")
    )


def exact_dedup_oracle_sql(table: str = "documents", key: str = "doc_id", text: str = "text") -> str:
    # 'g' flag: DuckDB replaces only the first match without it (a
    # no-op on the single-spaced corpus, correct on real inputs)
    norm = f"lower(trim(regexp_replace({text}, '\\s+', ' ', 'g')))"
    return f"""
    SELECT min({key}) AS {key}, md5({norm}) AS fingerprint, count(*) AS dup_count
    FROM {table} GROUP BY 2
    """


# --------------------------------------------------------------------------
# n-gram Jaccard pairs (inverted-index join)
# --------------------------------------------------------------------------


def _exploded_shingles(df: DataFrame, key: str, text: str) -> DataFrame:
    """(key, n_sh, s, sk): exploded distinct shingles with a 64-bit join
    key (xxhash64). Joins run on the 8-byte hash, not the shingle string —
    narrower shuffles at scale; the hash never reaches the output so the
    oracle is unaffected (collision odds ~n²/2^65). The tokenizer runs
    once per row (two-step projection), not once per reference."""
    n = SHINGLE_N
    toked = df.selectExpr(key, f"split(lower(trim({text})), '\\\\s+') AS __toks")
    base = toked.selectExpr(
        key,
        f"array_distinct(transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n})))) AS sh",
    )
    return base.select(
        key, F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    ).withColumn("sk", F.xxhash64("s"))


def _doc_shingle_sets(ex: DataFrame, key: str) -> DataFrame:
    """(key, n_sh, arr): per-doc sorted array of 64-bit shingle hashes —
    one row per document, bounded by the document's own shingle count.
    The set-per-doc relation that candidate verification joins against."""
    return ex.groupBy(key).agg(
        F.first("n_sh").alias("n_sh"),
        F.sort_array(F.collect_list("sk")).alias("arr"),
    )


def _verify_candidates(
    cand: DataFrame, sets: DataFrame, key: str, threshold: float
) -> DataFrame:
    """Exact Jaccard for (doc_a, doc_b) candidates by joining the per-doc
    hash-set relation on each side and intersecting the sorted arrays —
    two |pairs|-vs-|docs| joins (AQE broadcasts the set relation when it
    fits, shuffles on the doc key when it doesn't) instead of re-joining
    the exploded inverted index + a wide per-pair aggregation."""
    a = sets.select(
        F.col(key).alias("doc_a"), F.col("n_sh").alias("na"), F.col("arr").alias("arr_a")
    )
    b = sets.select(
        F.col(key).alias("doc_b"), F.col("n_sh").alias("nb"), F.col("arr").alias("arr_b")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("common", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """All pairs with word-{SHINGLE_N}-gram Jaccard >= threshold.

    Inverted-index plan: explode shingles, self-join PREFIXES on the
    shingle hash (shuffle keyed by shingle — never |docs|²), then exact
    verification by per-doc set intersection.
    """
    from pyspark.sql import Window

    # the string shingle never leaves the first projection — everything
    # downstream (prefix join, verification sets) runs on the 8-byte hash
    ex = _exploded_shingles(df, key, text).select(key, "n_sh", "sk").persist()
    # ---- prefix filtering (All-Pairs / PPJoin, lossless for jaccard >= t):
    # under one global shingle order (rarest first), any pair with
    # J >= t shares a shingle within each side's prefix of length
    # |d| - ceil(t*|d|) + 1. Joining prefixes only means the join keys are
    # the globally RARE shingles — tiny buckets, no quadratic blowup on
    # ubiquitous shingles. Document frequency comes from a window over the
    # shingle key (one exchange) rather than a groupBy + re-join (two).
    ranked = ex.withColumn(
        "df", F.count("*").over(Window.partitionBy("sk"))
    ).withColumn(
        "rnk", F.row_number().over(Window.partitionBy(key).orderBy("df", "sk"))
    )
    prefix = ranked.where(
        F.col("rnk") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # lossless size prune: jaccard <= min/max, so min/max < t can't qualify
    size_ok = F.least(F.col("a.n_sh"), F.col("b.n_sh")) >= (
        F.lit(threshold) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    # lossless positional prune (PPJoin): a match at prefix positions
    # (i of na, j of nb) bounds the total overlap by
    # 1 + min(na - i, nb - j); J >= t needs overlap >= t/(1+t)*(na+nb)
    pos_ok = (
        1 + F.least(F.col("a.n_sh") - F.col("a.rnk"), F.col("b.n_sh") - F.col("b.rnk"))
    ) >= (
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.sk") == F.col("b.sk"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}"))
            & size_ok
            & pos_ok,
        )
        .select(F.col(f"a.{key}").alias("doc_a"), F.col(f"b.{key}").alias("doc_b"))
        .distinct()
    )
    pairs = _verify_candidates(cand, _doc_shingle_sets(ex, key), key, threshold)
    # The exploded-shingle cache backs three consumers (prefix rank, the
    # self-join, the verification sets) but must not outlive this call: a
    # pinned relation in a long-lived session degrades every later query
    # (the r7 bench leak).
    return _finalize(pairs, ex)


def ngram_jaccard_oracle_sql(
    table: str = "documents",
    key: str = "doc_id",
    text: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    sh = _shingle_sql_duckdb(text)
    return f"""
    WITH sh AS (SELECT {key}, {sh} AS sh FROM {table}),
    ex AS (SELECT {key}, len(sh) AS n_sh, unnest(sh) AS s FROM sh)
    SELECT a.{key} AS doc_a, b.{key} AS doc_b,
           round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard
    FROM ex a JOIN ex b ON a.s = b.s AND a.{key} < b.{key}
    GROUP BY 1, 2
    HAVING jaccard >= {threshold}
    """


# --------------------------------------------------------------------------
# MinHash + LSH (banded candidate generation, exact verification)
# --------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact Jaccard.

    Candidates = docs agreeing on any LSH band (band hash = md5 of the
    band's minhash rows). Verification re-joins the inverted index only
    for candidate pairs (semi-join pushdown), so the expensive exact
    Jaccard runs on the tiny candidate set, not all pairs.
    """
    rows_per_band = MINHASH_K // MINHASH_BANDS
    ex = _exploded_shingles(df, key, text).persist()
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]
    sig = ex.groupBy(key).agg(F.first("n_sh").alias("n_sh"), *aggs)
    band_cols = []
    for b in range(MINHASH_BANDS):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("bv")))
    bands = sig.select(key, F.explode(F.array(*band_cols)).alias("e")).select(
        key, F.col("e.band").alias("band"), F.col("e.bv").alias("bv")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("doc_a"), F.col(f"b.{key}").alias("doc_b"))
        .distinct()
    )
    # exact verification by per-doc set intersection (see
    # _verify_candidates) — the expensive exact Jaccard runs on the tiny
    # candidate set, not all pairs
    verified = _verify_candidates(
        cand, _doc_shingle_sets(ex, key), key, threshold
    )
    # same cache discipline as ngram_jaccard_pairs
    return _finalize(verified, ex)


def minhash_lsh_oracle_sql(
    table: str = "documents",
    key: str = "doc_id",
    text: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    rows_per_band = MINHASH_K // MINHASH_BANDS
    sh = _shingle_sql_duckdb(text)
    sig_aggs = ", ".join(
        f"min(md5('{i}:' || s)) AS h{i}" for i in range(MINHASH_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT {key}, {b} AS band, md5("
        + " || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + ") AS bv FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH sh AS (SELECT {key}, {sh} AS sh FROM {table}),
    ex AS (SELECT {key}, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
    sig AS (SELECT {key}, {sig_aggs} FROM ex GROUP BY {key}),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.{key} AS doc_a, b.{key} AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.{key} < b.{key}
    )
    SELECT c.doc_a, c.doc_b,
           round(count(*)::DOUBLE / (any_value(ea.n_sh) + any_value(eb.n_sh) - count(*)), 6) AS jaccard
    FROM cand c
    JOIN ex ea ON ea.{key} = c.doc_a
    JOIN ex eb ON eb.{key} = c.doc_b AND eb.s = ea.s
    GROUP BY 1, 2
    HAVING jaccard >= {threshold}
    """


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """{SIMHASH_BITS}-bit SimHash over word tokens.

    Bit p is the sign of sum over tokens of ±1, +1 iff hex digit p of
    md5(token) >= '8' (top bit of the nibble). Pure built-in expressions;
    one aggregate shuffle.
    """
    toks = "split(lower(trim(text)), '\\\\s+')".replace("text", text)
    ex = df.selectExpr(key, f"explode({toks}) AS tok").withColumn("h", F.md5("tok"))
    aggs = [
        F.sum(
            F.when(F.substring("h", p, 1) >= "8", F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{p}")
        for p in range(1, SIMHASH_BITS + 1)
    ]
    sums = ex.groupBy(key).agg(*aggs)
    sim = None
    for p in range(1, SIMHASH_BITS + 1):
        bit = F.when(F.col(f"s{p}") >= 0, F.lit(1 << (p - 1))).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return sums.select(key, sim.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Scale path: banded self-join. With 4 bands and <= 3 differing bits,
    at least one band is identical (pigeonhole), so joining on
    (band-index, band-value) finds every qualifying pair without a
    cross join.
    """
    sh = simhash(df, key, text)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    nibble_structs = [
        F.struct(
            F.lit(b).alias("band"),
            (
                (F.col("simhash").bitwiseAND(F.lit(mask << (SIMHASH_BAND_BITS * b))))
                / F.lit(1 << (SIMHASH_BAND_BITS * b))
            )
            .cast("int")
            .alias("nv"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    bands = sh.select(key, "simhash", F.explode(F.array(*nibble_structs)).alias("e")).select(
        key, "simhash", F.col("e.band").alias("band"), F.col("e.nv").alias("nv")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nv") == F.col("b.nv"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(
            F.col(f"a.{key}").alias("doc_a"),
            F.col(f"b.{key}").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_sql_duckdb(table: str, key: str, text: str) -> str:
    toks = f"string_split_regex(lower(trim({text})), '\\s+')"
    sum_aggs = ", ".join(
        f"sum(CASE WHEN substr(h, {p}, 1) >= '8' THEN 1 ELSE -1 END) AS s{p}"
        for p in range(1, SIMHASH_BITS + 1)
    )
    bits = " + ".join(
        f"(CASE WHEN s{p} >= 0 THEN {1 << (p - 1)} ELSE 0 END)"
        for p in range(1, SIMHASH_BITS + 1)
    )
    return f"""
    tokens AS (SELECT {key}, md5(unnest({toks})) AS h FROM {table}),
    sums AS (SELECT {key}, {sum_aggs} FROM tokens GROUP BY {key}),
    sh AS (SELECT {key}, CAST({bits} AS BIGINT) AS simhash FROM sums)
    """


def simhash_oracle_sql(
    table: str = "documents",
    key: str = "doc_id",
    text: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> str:
    """Naive quadratic oracle: cross join + popcount(xor)."""
    return f"""
    WITH {_simhash_sql_duckdb(table, key, text)}
    SELECT a.{key} AS doc_a, b.{key} AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.{key} < b.{key}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# --------------------------------------------------------------------------
# duplicate-cluster resolution: connected components by label propagation
# --------------------------------------------------------------------------


def duplicate_chain_edges(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact-duplicate groups rendered as CHAIN edges (d1-d2, d2-d3, ...
    by ascending key within each fingerprint group): the sparsest edge set
    whose transitive closure is the duplicate clusters — so resolving
    clusters genuinely requires multi-hop propagation, not one lookup."""
    from pyspark.sql import Window

    norm = _NORM.format(col=text)
    fp = df.selectExpr(key, f"md5({norm}) AS fp")
    w = Window.partitionBy("fp").orderBy(key)
    chained = fp.withColumn("prev", F.lag(key).over(w))
    return chained.where(F.col("prev").isNotNull()).select(
        F.col("prev").alias("src"), F.col(key).alias("dst")
    )


def connected_components(
    edges: DataFrame, max_iter: int = 50, shuffle_partitions: int | None = None
) -> DataFrame:
    """Distributed connected components by min-label propagation WITH
    pointer jumping — the engine's iterative-algorithm primitive
    (cluster-level dedup: keep one doc per component). Each round every
    node adopts the smallest label in its closed neighborhood, then
    short-circuits through its label's own label (path halving); rounds
    repeat until a fixpoint (checked with a control-plane count, no data
    to the driver). The jump step cuts convergence from O(diameter) to
    O(log diameter) rounds — on a 100-TB dedup graph whose duplicate
    chains can be thousands of docs long, that is the difference between
    ~12 and ~1000 shuffle rounds. Each round is two shuffles keyed by
    node (neighbor aggregation + label lookup), the standard large-graph
    formulation (GraphX/Pregel, Kiveris et al. "Connected Components in
    MapReduce") in pure DataFrame ops.

    Returns (node, component) with component = min node id reachable.

    ``shuffle_partitions`` scopes the loop's shuffle width: the label
    relation is EDGE-bounded (only docs in duplicate clusters), usually
    orders of magnitude smaller than the corpus, and each round is ~6
    tiny jobs — at the session default (32 here, thousands on a real
    cluster) the per-round fixed cost dominates. Size it to the dup-set
    keyspace; None leaves the session width alone.
    """
    import contextlib

    spark = edges.sparkSession
    if shuffle_partitions:
        from ..streaming.epoch import scoped_shuffle_partitions

        scope = scoped_shuffle_partitions(spark, shuffle_partitions)
    else:
        scope = contextlib.nullcontext()
    with scope:
        return _connected_components_loop(edges, max_iter)


def _connected_components_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    sym = edges.selectExpr("src AS a", "dst AS b").unionByName(
        edges.selectExpr("dst AS a", "src AS b")
    )
    labels = (
        sym.selectExpr("a AS node")
        .distinct()
        .withColumn("label", F.col("node"))
    )
    sym = sym.persist()
    labels = labels.persist()
    for i in range(max_iter):
        if i > 0 and i % 4 == 0:
            # truncate lineage every few rounds (Pregel-style checkpoint):
            # without this the final plan embeds every round's joins and
            # Catalyst analysis cost grows quadratically with iterations
            labels = labels.localCheckpoint(eager=True)
        # every node's candidate = min(own label, neighbors' labels)
        neighbor_min = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("a", "node")
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
        )
        # pointer jump (path halving): label <- label(label). Labels only
        # ever DECREASE monotonically toward the component min, so the
        # jump is always sound; it lets a chain's min travel 2^i hops by
        # round i instead of i hops.
        lookup = stepped.selectExpr("node AS label", "label AS ll")
        new_labels = (
            stepped.join(lookup, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("ll", "label")).alias("label"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    # labels is still pinned from the last round; hand back an
    # eagerly-materialized copy and release the iteration cache
    return _finalize(
        labels.select(F.col("node"), F.col("label").alias("component")), labels
    )


def dedup_components_oracle_sql(
    table: str = "documents", key: str = "doc_id", text: str = "text"
) -> str:
    """Components of the chain-edge graph = fingerprint groups, so the
    exact answer is min(key) per group, restricted to nodes that appear in
    at least one edge (groups of size >= 2)."""
    # 'g' flag: DuckDB replaces only the first match without it (a
    # no-op on the single-spaced corpus, correct on real inputs)
    norm = f"lower(trim(regexp_replace({text}, '\\s+', ' ', 'g')))"
    return f"""
    WITH fp AS (SELECT {key}, md5({norm}) AS fp FROM {table}),
    grp AS (
      SELECT {key} AS node, min({key}) OVER (PARTITION BY fp) AS component,
             count(*) OVER (PARTITION BY fp) AS n
      FROM fp
    )
    SELECT node, component FROM grp WHERE n >= 2
    """


# --------------------------------------------------------------------------
# embedding-cosine near-dup (brute-force baseline; LSH path in similarity.py)
# --------------------------------------------------------------------------


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)), "
        f"cast(0 AS double), (acc, v) -> acc + v)"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
    num_blocks: int = 8,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold — exact, fully distributed.

    Triangle-blocked all-pairs plan (the classic blocked similarity join):
    every row is assigned a block ``bid = key mod B``; each row is then
    replicated to the B block-pairs it participates in ((min(bid,j),
    max(bid,j)) for every j), and ``applyInPandas`` computes one float64
    BLAS matmul per block-pair group. Nothing is collected to the driver;
    per-task memory is O((n/B) * dim), tunable via ``num_blocks`` — at
    100 TB you raise B so a block fits executor memory and the plan still
    executes (it is inherently O(n^2) work; the *approximate* scale path is
    the LSH/IVF candidate generation in ``similarity``, and the broadcast
    variant ``embedding_near_dup_pairs_broadcast`` remains the low-latency
    opt-in for corpora that fit in one executor).

    Shuffle volume is B copies of the (key, vector) projection — with
    B = 8 and 4-byte floats that is bounded and embarrassingly parallel;
    the B*(B+1)/2 groups spread across the cluster with no skew (blocks
    are hash-sized).
    """
    import numpy as np
    from pyspark.sql import types as T

    B = int(num_blocks)
    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    # replicate each row to every block-pair it participates in
    replicated = (
        df.select(
            F.col(key).cast("long").alias("_k"),
            F.col(vec).alias("_v"),
            F.pmod(F.col(key).cast("long"), F.lit(B)).alias("_bid"),
        )
        .withColumn("_j", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .select(
            F.least("_bid", "_j").alias("_pi"),
            F.greatest("_bid", "_j").alias("_pj"),
            "_k",
            "_v",
            "_bid",
        )
    )

    def pair_block(pdf):
        import pandas as pd

        pi, pj = int(pdf["_pi"].iloc[0]), int(pdf["_pj"].iloc[0])
        ids = pdf["_k"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["_v"]), dtype=np.float64)
        mat /= np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        if pi == pj:
            sims = np.round(mat @ mat.T, 4)
            ai, bi = np.nonzero(sims >= threshold)
            keep = ids[ai] < ids[bi]
        else:
            left = pdf["_bid"].to_numpy(dtype=np.int64) == pi
            a_ids, a_mat = ids[left], mat[left]
            b_ids, b_mat = ids[~left], mat[~left]
            if not len(a_ids) or not len(b_ids):
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                    {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
                )
            sims = np.round(a_mat @ b_mat.T, 4)
            ai, bi = np.nonzero(sims >= threshold)
            # orient so the smaller key is vec_a
            a_sel, b_sel = a_ids[ai].copy(), b_ids[bi].copy()
            flip = a_sel > b_sel
            a_sel[flip], b_sel[flip] = b_sel[flip], a_sel[flip]
            return pd.DataFrame(
                {"vec_a": a_sel, "vec_b": b_sel, "cosine": sims[ai, bi]}
            )
        return pd.DataFrame(
            {"vec_a": ids[ai][keep], "vec_b": ids[bi][keep], "cosine": sims[ai, bi][keep]}
        )

    return replicated.groupBy("_pi", "_pj").applyInPandas(pair_block, schema=out_schema)


def embedding_near_dup_pairs_broadcast(
    df: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """Broadcast variant: low-latency opt-in for corpora that fit in memory.

    The corpus (keys + float64 matrix) is broadcast once, then
    ``mapInPandas`` computes each partition's rows against the whole corpus
    with one BLAS matmul per Arrow batch — no shuffle at all. Valid only
    while one copy of the (id, vector) matrix fits per executor; the
    registered contract plan is the distributed ``embedding_near_dup_pairs``.
    """
    import numpy as np
    from pyspark.sql import types as T

    rows = df.select(key, vec).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def block(batches):
        import pandas as pd

        c_ids, c_mat = bc.value
        for pdf in batches:
            a_ids = pdf[key].to_numpy(dtype=np.int64)
            a = np.array(list(pdf[vec]), dtype=np.float64)
            a /= np.sqrt((a * a).sum(axis=1, keepdims=True))
            sims = np.round(a @ c_mat.T, 4)
            ai, ci = np.nonzero(sims >= threshold)
            keep = a_ids[ai] < c_ids[ci]
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai][keep],
                    "vec_b": c_ids[ci][keep],
                    "cosine": sims[ai, ci][keep],
                }
            )

    return df.select(key, vec).mapInPandas(block, schema=out_schema)


def embedding_near_dup_oracle_sql(
    table: str = "embeddings",
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
) -> str:
    # sequential left-to-right fold, mirroring Spark's aggregate()
    dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])), (acc, v) -> acc + v)"
    )
    self_dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({vec}, x -> x::DOUBLE * x::DOUBLE)), (acc, v) -> acc + v)"
    )
    return f"""
    WITH normed AS (
      SELECT {key}, list_transform({vec}, x -> x::DOUBLE / sqrt({self_dot})) AS u
      FROM {table}
    )
    SELECT a.{key} AS vec_a, b.{key} AS vec_b, round({dot}, 4) AS cosine
    FROM normed a JOIN normed b ON a.{key} < b.{key}
    WHERE round({dot}, 4) >= {threshold}
    """


def semantic_dedup(
    df: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster-bucketed embedding
    near-dup with a keep-lowest-id policy.

    Scale shape (the point of SemDeDup — Abbas et al. 2023): vectors are
    assigned to their nearest centroid in ONE map pass (no shuffle), and
    the quadratic similarity search runs only WITHIN each cluster — a
    self-equi-join on the cell id, so total work is sum(|cell|^2), not
    |corpus|^2, and each cell's pairs co-locate in one shuffle partition.
    At 100 TB you raise the centroid count so cells stay bounded; the
    documented approximation is that a dup pair straddling two cells is
    missed (the paper's trade too). Centroids are the seeded unit vectors
    the IVF index uses (similarity._centroids) — a production run k-means
    a sample first; assignment/join mechanics are identical.

    Returns the KEPT rows (vec_id, cell): a row is dropped iff a
    lower-id row in the same cell has cosine >= threshold with it.
    """
    from .similarity import _dot, _ivf_scores_spark, _unit_expr

    cells = (
        df.selectExpr(f"{key} AS vec_id", f"{_unit_expr(vec)} AS u")
        .withColumn("scores", F.expr(_ivf_scores_spark("u")))
        .withColumn("cell", F.expr("array_position(scores, array_max(scores))").cast("int"))
        .drop("scores")
    )
    drops = _cell_drop_ids(cells, threshold)
    return cells.join(drops, "vec_id", "left_anti").select("vec_id", "cell")


def _cell_drop_ids(cells: DataFrame, threshold: float) -> DataFrame:
    """Within-cell keep-lowest-id near-dup drop set: one applyInPandas
    task per cell runs a float64 BLAS gram matrix over the cell's unit
    vectors — the per-pair cost is a matmul row, not a per-pair SQL
    fold (the same discipline embedding_near_dup_pairs uses). Cosines
    round to 4 decimals before thresholding, matching the SQL oracle."""

    def block(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        a = np.array(list(pdf["u"]), dtype=np.float64)[order]
        sims = np.round(a @ a.T, 4)
        _, jj = np.nonzero(np.triu(sims >= threshold, k=1))
        return pd.DataFrame({"vec_id": np.unique(ids[jj])})

    return cells.select("vec_id", "u", "cell").groupBy("cell").applyInPandas(
        lambda _key, pdf: block(pdf), schema="vec_id long"
    )


def semantic_dedup_oracle_sql(
    table: str = "embeddings",
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
) -> str:
    """DuckDB mirror of semantic_dedup (same centroids, same rounding)."""
    from .similarity import _dot_duck, _ivf_scores_duck, _unit_duck

    scores = _ivf_scores_duck("u")
    return f"""
    WITH normed AS (
      SELECT {key} AS vec_id, {_unit_duck(vec)} AS u FROM {table}
    ),
    cells AS (
      SELECT vec_id, u,
             CAST(list_position(s, list_aggregate(s, 'max')) AS INTEGER) AS cell
      FROM (SELECT vec_id, u, {scores} AS s FROM normed)
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({_dot_duck('a.u', 'b.u')}, 4) >= {threshold}
    )
    SELECT c.vec_id, c.cell FROM cells c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM drops)
    """


def exact_substring_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    window: int = 8,
    freq_cap: int = 50,
) -> DataFrame:
    """Exact duplicated-span detection (the dedup op of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): two docs
    pair iff they share at least one VERBATIM window of `window`
    consecutive tokens; reports the shared-window count per pair.

    Scale shape: one map pass explodes each doc into its windows hashed
    JVM-side (md5 over the joined tokens — chosen because the oracle can
    compute the identical digest), then ONE self-equi-join on the window
    hash. The classic blowup — boilerplate windows shared by thousands of
    docs turning the join quadratic — is cut by the `freq_cap` guard: a
    window seen in more than `freq_cap` distinct docs is dropped before
    the join (the suffix-array implementations apply the same frequency
    cut). At 100 TB the guard bounds every hash group, so the join stays
    sum(freq²) with freq <= cap.
    """
    # tokenize ONCE per row into an attribute — referencing `__toks`
    # inside the window lambda reuses it, where inlining split(text) would
    # re-tokenize the document for every window (O(len^2) hot path)
    toked = df.select(
        F.col(key).alias("doc"), F.split(F.col(text), " ").alias("__toks")
    ).where(F.size("__toks") >= window)
    windows = F.expr(
        f"transform(sequence(0, size(__toks) - {window}), "
        f"i -> md5(concat_ws(' ', slice(__toks, i + 1, {window}))))"
    )
    win = (
        toked.select("doc", F.explode(windows).alias("h"))
        .distinct()  # a window repeated INSIDE one doc counts once
    )
    # drop boilerplate windows before the join (the quadratic guard)
    rare = (
        win.groupBy("h")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") <= freq_cap)
        .select("h")
    )
    w = win.join(rare, "h")
    a, b = w.alias("a"), w.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared_windows"))
    )


def exact_substring_oracle_sql(
    corpus_sql: str,
    key: str = "doc_id",
    text: str = "text",
    window: int = 8,
    freq_cap: int = 50,
) -> str:
    """DuckDB mirror of exact_substring_pairs over `corpus_sql` (a SELECT
    producing the same key/text columns)."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    win AS (
      SELECT DISTINCT {key} AS doc, h
      FROM (
        SELECT {key},
               unnest(list_transform(
                 range(len(string_split({text}, ' ')) - {window} + 1),
                 i -> md5(array_to_string(
                        string_split({text}, ' ')[i + 1 : i + {window}], ' '))
               )) AS h
        FROM corpus
        WHERE len(string_split({text}, ' ')) >= {window}
      )
    ),
    rare AS (
      SELECT h FROM win GROUP BY h HAVING count(*) <= {freq_cap}
    ),
    w AS (SELECT win.doc, win.h FROM win JOIN rare USING (h))
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS shared_windows
    FROM w a JOIN w b ON a.h = b.h AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    """


def semantic_dedup_with_clusters(
    df: DataFrame,
    assignments: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup stage 2 over EXTERNAL cluster assignments — the full
    paper pipeline when composed with clustering.kmeans_assign (fit
    clusters, then near-dup only within clusters). Same join shape and
    keep-lowest-id policy as semantic_dedup; returns kept (vec_id,
    cluster)."""
    from .similarity import _unit_expr

    normed = df.selectExpr(f"{key} AS vec_id", f"{_unit_expr(vec)} AS u")
    cells = normed.join(assignments, "vec_id").withColumnRenamed(
        "cluster", "cell"
    )
    drops = _cell_drop_ids(cells, threshold)
    return cells.join(drops, "vec_id", "left_anti").select("vec_id", "cell")


def semantic_dedup_kmeans_oracle_sql(
    table: str = "embeddings",
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = COSINE_DUP_THRESHOLD,
) -> str:
    """DuckDB mirror of kmeans_assign |> semantic_dedup_with_clusters."""
    from .clustering import kmeans_oracle_sql
    from .similarity import _dot_duck, _unit_duck

    return f"""
    WITH assign AS (SELECT * FROM ({kmeans_oracle_sql(table, key, vec)})),
    normed AS (
      SELECT {key} AS vec_id, {_unit_duck(vec)} AS u FROM {table}
    ),
    cells AS (
      SELECT n.vec_id, a.cluster AS cell, n.u
      FROM normed n JOIN assign a ON a.vec_id = n.vec_id
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({_dot_duck('a.u', 'b.u')}, 4) >= {threshold}
    )
    SELECT c.vec_id, c.cell FROM cells c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM drops)
    """


# --------------------------------------------------------------------------
# quality-ordered canonical selection (fuzzy dedup keeps the BEST copy)
# --------------------------------------------------------------------------


def canonical_select(
    df: DataFrame, key: str = "doc_id", text: str = "text"
) -> DataFrame:
    """-> (fingerprint, canonical_id, n_members, kept_chars): one
    canonical document per normalized-content cluster, chosen by an
    explicit QUALITY ORDER — most raw characters first (the web-dedup
    "keep the most complete copy" rule: near-identical copies usually
    differ by trimmed boilerplate, and exact_dedup's keep-lowest-key
    would throw the completeness away), ties to the lowest key.

    Scale shape: identical to exact_dedup — project (key, fingerprint,
    length) so only tiny columns shuffle, one exchange on the
    fingerprint, rank-1 per cluster. Swap the orderBy to plug in any
    quality column (token_stats.quality, gopher keep-score, ...)."""
    from pyspark.sql import Window

    fp = F.md5(F.expr(_NORM.format(col=text)))
    keyed = df.select(
        F.col(key), fp.alias("fingerprint"), F.length(text).alias("__nc")
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("__nc").desc(), F.col(key).asc()
    )
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).cast("bigint"),
        )
        .where(F.col("__rn") == 1)
        .select(
            "fingerprint",
            F.col(key).alias("canonical_id"),
            "n_members",
            F.col("__nc").cast("bigint").alias("kept_chars"),
        )
    )


def canonical_select_oracle_sql(
    table: str = "documents", key: str = "doc_id", text: str = "text"
) -> str:
    # DuckDB replaces only the FIRST regexp match without 'g' — and this
    # op's salted fixture is the first _NORM consumer whose inputs
    # actually contain runs of whitespace, so the flag matters here
    norm = f"lower(trim(regexp_replace({text}, '\\s+', ' ', 'g')))"
    return f"""
    WITH fp AS (
      SELECT {key}, md5({norm}) AS fingerprint, length({text}) AS nc
      FROM {table}
    ),
    ranked AS (
      SELECT fingerprint, {key}, nc,
             row_number() OVER (PARTITION BY fingerprint
                                ORDER BY nc DESC, {key} ASC) AS rn,
             count(*) OVER (PARTITION BY fingerprint) AS n
      FROM fp
    )
    SELECT fingerprint, {key} AS canonical_id,
           CAST(n AS BIGINT) AS n_members,
           CAST(nc AS BIGINT) AS kept_chars
    FROM ranked WHERE rn = 1
    """
