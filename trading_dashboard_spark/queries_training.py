"""Training-data-pipeline queries — the operations a 100 TB LLM data
pipeline runs between raw corpus and training shards: deterministic
train/validation/test splitting, distribution statistics (exact and
sketched), multidimensional quality cubes, and corpus↔embedding joins.

Split discipline at scale: membership must be a pure function of a stable
key (never `rand()`, never row position) so (a) re-runs and backfills land
every document in the same split, (b) the split survives repartitioning,
and (c) any engine — Spark today, something else tomorrow — reproduces it
bit-for-bit. md5 over the key gives a uniform 2^128 space; comparing a hex
prefix is an order-preserving threshold on it (lowercase hex compares
lexicographically in numeric order on both engines).
"""

from pyspark.sql import Window as W, functions as F

from .query_registry import _t, pround, register
from .text.analysis import stopwords_sql_list


@register(
    "train_test_split_stats",
    """
    WITH tagged AS (
      SELECT CASE
               WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
               WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'valid'
               ELSE 'test' END AS split,
             n_chars
      FROM documents
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
    FROM tagged GROUP BY split
    """,
    tags=("training", "split"),
)
def train_test_split_stats(spark, sf_dir):
    """Deterministic ~80/10/10 split keyed on md5(doc_id): hex-prefix
    thresholds 'cd' (205/256) and 'e6' (230/256). Stateless and
    shuffle-free — the split column is a projection, so adding it to a
    100 TB corpus is a map-only pass; the only shuffle here is the
    reporting groupBy."""
    docs = _t(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "cd", "train").when(h2 < "e6", "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            pround(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_chars"
            ),
        )
    )


@register(
    "doc_length_quartiles_by_lang",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 4) AS q25,
           round(quantile_cont(n_chars, 0.50), 4) AS median,
           round(quantile_cont(n_chars, 0.75), 4) AS q75
    FROM documents GROUP BY lang
    """,
    tags=("training", "stats"),
)
def doc_length_quartiles_by_lang(spark, sf_dir):
    """Exact linear-interpolated quartiles of document length per language
    (Spark `percentile` ≡ DuckDB `quantile_cont`). Exact percentiles
    shuffle per-group value multisets — fine for bounded groups like
    language; unbounded-cardinality profiling belongs to the sketched
    variant (corpus_sketch_profile)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pround(F.expr("percentile(n_chars, 0.25)"), 4).alias("q25"),
        pround(F.expr("percentile(n_chars, 0.50)"), 4).alias("median"),
        pround(F.expr("percentile(n_chars, 0.75)"), 4).alias("q75"),
    )


@register("corpus_sketch_profile", None, tags=("training", "stats", "approx"))
def corpus_sketch_profile(spark, sf_dir):
    """Sketched corpus profile — the scale path for profiling: HyperLogLog++
    distinct counts and GK approximate quantiles in one pass, constant
    memory per group regardless of corpus size. Rows-only check (sketch
    outputs are engine-specific by nature); the exact counterparts
    (`doc_length_quartiles_by_lang`, `media_metadata_by_type`) are the
    value-checked baselines the sketches are validated against in tests."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct("text").alias("approx_distinct_texts"),
        F.approx_count_distinct("lang").alias("approx_distinct_langs"),
        F.percentile_approx("n_chars", 0.5).alias("approx_median_chars"),
    )


@register(
    "quality_cube_by_lang_source",
    """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
    tags=("training", "agg", "cube"),
)
def quality_cube_by_lang_source(spark, sf_dir):
    """CUBE over (lang, source) — every marginal a curation dashboard
    needs in one shuffle (grouping-set expansion is map-side row
    replication feeding one partial-agg exchange, not N separate jobs)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "docs_with_embeddings_by_lang",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_embedded_docs,
           round(round(sum(sqrt(list_dot_product(v.v, v.v))), 4) / count(*), 6)
             AS avg_l2_norm
    FROM documents d JOIN v ON d.doc_id = v.vec_id
    GROUP BY d.lang
    """,
    tags=("training", "similarity", "X5"),
)
def docs_with_embeddings_by_lang(spark, sf_dir):
    """Corpus↔embedding equi-join (doc_id = vec_id) + per-language norm
    stats — the join every embedding-aware curation step performs. Both
    sides shuffle once on the id; at scale the embedding side is usually
    the smaller and bucketed on the same key, making the join
    exchange-free."""
    from .similarity.knn import _as_double, l2_norm

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs["doc_id"] == emb["vec_id"])
    norm = l2_norm(_as_double(F.col("embedding")))
    return (
        joined.select("lang", norm.alias("l2"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_embedded_docs"),
            pround(pround(F.sum("l2"), 4) / F.count(F.lit(1)), 6).alias("avg_l2_norm"),
        )
    )


@register(
    "token_budget_shards",
    """
    WITH tok AS (
      SELECT source, doc_id,
             CAST(ceil(length(trim(text)) / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, est_tokens,
             CAST(floor((sum(est_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - est_tokens) / 50000.0)
                  AS BIGINT) AS shard_id
      FROM tok
    )
    SELECT source, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(est_tokens) AS BIGINT) AS shard_tokens
    FROM packed GROUP BY source, shard_id
    """,
    tags=("training", "packing"),
)
def token_budget_shards(spark, sf_dir):
    """Greedy sequential shard packing — assign documents to ~50k-token
    training shards: shard_id = floor(exclusive-prefix-sum(est_tokens) /
    budget) in stable doc_id order. The prefix sum runs per source
    partition (bounded cardinality), never globally — a single global
    ordering would serialize 100 TB through one window partition; per-key
    prefix sums shuffle once and parallelize across keys, and shard ids
    stay deterministic under any partitioning because the order key is the
    data, not arrival. Token estimate = ceil(chars/4), the standard BPE
    heuristic (text/analysis.quality_features exposes the same)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    est = F.ceil(F.length(F.trim("text")) / 4.0).cast("long")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = docs.select(
        "source",
        "doc_id",
        est.alias("est_tokens"),
    ).withColumn(
        "shard_id",
        F.floor((F.sum("est_tokens").over(w) - F.col("est_tokens")) / 50000.0).cast(
            "long"
        ),
    )
    return packed.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("est_tokens").cast("long").alias("shard_tokens"),
    )


@register(
    "cross_split_contamination",
    """
    WITH tagged AS (
      SELECT CASE
               WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
               WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'valid'
               ELSE 'test' END AS split,
             md5(regexp_replace(lower(trim(coalesce(text, ''))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp
      FROM documents
    ),
    train_fps AS (SELECT DISTINCT fp FROM tagged WHERE split = 'train')
    SELECT t.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE tf.fp IS NOT NULL) AS BIGINT) AS n_contaminated
    FROM tagged t LEFT JOIN train_fps tf ON t.fp = tf.fp
    WHERE t.split <> 'train'
    GROUP BY t.split
    """,
    tags=("training", "dedup", "split"),
)
def cross_split_contamination(spark, sf_dir):
    """Eval-set decontamination check: held-out documents whose canonical
    fingerprint (text/analysis.fingerprint — the exact-dedup hash) also
    appears in the train split. The join carries 16-byte fingerprints,
    never text; at corpus scale the train fingerprint set is the big side
    and the held-out splits are small, so this shuffles the small side and
    semi-joins the large one. Uses the same md5 split as
    train_test_split_stats — the whole point is that split membership is
    replayable anywhere."""
    from .text.analysis import fingerprint

    docs = _t(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(h2 < "cd", "train").when(h2 < "e6", "valid").otherwise("test")
    tagged = docs.select(split.alias("split"), fingerprint(F.col("text")).alias("fp"))
    train_fps = tagged.filter(F.col("split") == "train").select("fp").distinct()
    held = tagged.filter(F.col("split") != "train")
    joined = held.join(
        train_fps.withColumnRenamed("fp", "tfp"),
        held["fp"] == F.col("tfp"),
        "left",
    )
    return joined.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("tfp").alias("n_contaminated"),
    )


@register(
    "cms_user_frequencies",
    """
    WITH d(depth_idx) AS (VALUES (0), (1), (2), (3)),
    pairs AS (
      SELECT d.depth_idx,
             ('0x' || substr(md5(d.depth_idx::VARCHAR || ':' || user_id::VARCHAR), 1, 8))::BIGINT % 256 AS bucket
      FROM events, d
    ),
    sketch AS (
      SELECT depth_idx, bucket, count(*) AS cnt FROM pairs GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT user_id FROM events),
    probe_pairs AS (
      SELECT p.user_id, d.depth_idx,
             ('0x' || substr(md5(d.depth_idx::VARCHAR || ':' || p.user_id::VARCHAR), 1, 8))::BIGINT % 256 AS bucket
      FROM probes p, d
    )
    SELECT pp.user_id, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_count
    FROM probe_pairs pp LEFT JOIN sketch s USING (depth_idx, bucket)
    GROUP BY pp.user_id
    """,
    tags=("training", "stats", "sketch"),
)
def cms_user_frequencies(spark, sf_dir):
    """Count-Min sketch per-key frequency estimation
    (functions/sketches.py): build a 4×256 counter matrix over event
    user_ids (one shuffle, state bounded by depth×width forever), then
    point-estimate every user as min over its depth buckets. Hashes are
    fixed md5 slices, so — unusually for a sketch — build AND probe replay
    exactly in the DuckDB oracle. The estimate is provably ≥ the true
    count (over-count only); accuracy vs exact is asserted in tests."""
    from .functions.sketches import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    sketch = cms_build(ev, key, depth=4, width=256)
    probes = ev.select("user_id").distinct()
    out = cms_estimate(sketch, probes, F.col("user_id").cast("string"), depth=4, width=256)
    return out.select("user_id", F.col("est_count").cast("long").alias("est_count"))


@register(
    "stratified_sample_by_lang",
    """
    WITH sampled AS (
      SELECT lang, n_chars
      FROM documents
      WHERE substr(md5('sample1:' || doc_id::VARCHAR), 1, 2) < '4d'
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sampled_chars
    FROM sampled GROUP BY lang
    """,
    tags=("training", "sampling"),
)
def stratified_sample_by_lang(spark, sf_dir):
    """Deterministic ~30% corpus sample (hex threshold '4d' = 77/256) keyed
    on md5('sample1:' || doc_id) — the curation primitive for rebalancing
    and ablation subsets. Same discipline as the split operator: membership
    is a pure function of the key and a salt, so (a) re-runs, backfills
    and other engines reproduce the sample exactly, (b) different salts
    give independent samples, and (c) it composes with the train split
    without correlation (different salt ⇒ different hash). Map-only — the
    filter is a projection predicate; unlike `df.sample()`, no RNG state
    and no partition-order sensitivity."""
    docs = _t(spark, sf_dir, "documents")
    h2 = F.substring(
        F.md5(F.concat(F.lit("sample1:"), F.col("doc_id").cast("string"))), 1, 2
    )
    return (
        docs.filter(h2 < "4d")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
        )
    )


@register(
    "doc_chunks",
    """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(coalesce(text, ''))) = 0
                  THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') END AS toks
      FROM documents
    ),
    n AS (
      SELECT doc_id, toks, len(toks) AS nt,
             CASE WHEN len(toks) = 0 THEN 0
                  ELSE greatest(1, CAST(ceil((len(toks) - 64) / 48.0) AS INT) + 1)
             END AS nch
      FROM t
    ),
    c AS (SELECT doc_id, toks, nt, unnest(range(nch)) AS i FROM n)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(toks[i*48 + 1 : i*48 + 64], ' ') AS chunk_text,
           CAST(least(64, nt - i*48) AS INT) AS n_tokens
    FROM c
    """,
    tags=("training", "text", "chunking"),
)
def doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (text/analysis.chunk_documents):
    64-token windows, 16-token overlap — the corpus→context-window stage
    of a training pipeline as a pure JVM array transform (tokenize →
    sequence → slice → posexplode; no shuffle, no Python). The oracle
    regenerates every window with DuckDB list slicing, so chunk
    boundaries, short tails, and empty-doc elision are value-checked."""
    from .text.analysis import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


@register(
    "doc_char_entropy",
    """
    WITH t AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
    ch AS (
      SELECT doc_id, substr(txt, i, 1) AS ch
      FROM t, LATERAL (SELECT unnest(generate_series(1, length(txt))) AS i) g
    ),
    counts AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
    per_doc AS (
      SELECT doc_id, sum(c) AS total,
             sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS s
      FROM counts GROUP BY doc_id
    )
    SELECT t.doc_id,
           round(log2(CAST(p.total AS DOUBLE)) - p.s / p.total, 4) AS char_entropy
    FROM t LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("training", "text", "quality"),
)
def doc_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document (text/analysis.
    char_entropy) — a model-free perplexity proxy for quality filtering.
    Two-stage aggregation: per-(doc, char) counts with map-side combine
    (shuffle bounded by alphabet size per doc), then H = log2(T) −
    Σ c·log2 c / T. Empty docs carry NULL."""
    from .text.analysis import char_entropy

    docs = _t(spark, sf_dir, "documents")
    out = char_entropy(docs)
    return out.select("doc_id", pround("char_entropy", 4).alias("char_entropy"))


@register(
    "fixed_window_packing",
    """
    WITH tok AS (
      SELECT source, doc_id,
             CAST(ceil(length(trim(text)) / 4.0) AS BIGINT) AS est
      FROM documents
    ),
    pos AS (
      SELECT source, doc_id, est,
             CAST(sum(est) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - est AS BIGINT) AS start
      FROM tok WHERE est > 0
    ),
    spans AS (SELECT source, doc_id, est, start, start + est - 1 AS fin FROM pos),
    win AS (
      SELECT source, doc_id, start, fin,
             unnest(range(start // 2048, fin // 2048 + 1)) AS window_id
      FROM spans
    )
    SELECT source, CAST(window_id AS BIGINT) AS window_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN start < window_id * 2048 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_spanning,
           CAST(sum(least(fin, (window_id + 1) * 2048 - 1)
                    - greatest(start, window_id * 2048) + 1) AS BIGINT)
             AS window_tokens
    FROM win GROUP BY source, window_id
    """,
    tags=("training", "packing"),
)
def fixed_window_packing(spark, sf_dir):
    """GPT-style fixed-length sequence packing: each source's token stream
    (stable doc_id order, ceil(chars/4) estimates) is conceptually
    concatenated and cut into 2048-token windows; a document occupies
    windows floor(start/2048)..floor(end/2048). Emits the packing grid —
    docs per window, boundary-crossing docs, token fill. Same
    per-source-prefix-sum scaling argument as token_budget_shards (no
    global window); the window fan-out is a sequence+explode inside the
    projection. The complementary op to budget sharding: shards bound
    tokens per FILE, windows bound tokens per TRAINING ROW."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    w_tok = 2048
    est = F.ceil(F.length(F.trim("text")) / 4.0).cast("long")
    tok = docs.select("source", "doc_id", est.alias("est")).filter(F.col("est") > 0)
    win = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    pos = tok.select(
        "source", "doc_id", "est",
        (F.sum("est").over(win) - F.col("est")).alias("start"),
    ).withColumn("fin", F.col("start") + F.col("est") - 1)
    expanded = pos.select(
        "source", "start", "fin",
        F.explode(F.expr(f"sequence(start div {w_tok}, fin div {w_tok})")).alias("window_id"),
    )
    return expanded.groupBy("source", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("start") < F.col("window_id") * w_tok, 1).otherwise(0)
        ).alias("n_spanning"),
        F.sum(
            F.least(F.col("fin"), (F.col("window_id") + 1) * w_tok - 1)
            - F.greatest(F.col("start"), F.col("window_id") * w_tok)
            + 1
        ).alias("window_tokens"),
    )


@register(
    "reservoir_sample_per_lang",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             md5('rsv7|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 20
    """,
    tags=("training", "sampling"),
)
def reservoir_sample_per_lang(spark, sf_dir):
    """Deterministic reservoir-k per group: exactly 20 docs per language,
    chosen by ranking on a salted hash — the distributed replacement for
    sequential reservoir sampling (same marginal uniformity, but a pure
    function of the data, so it reproduces under any partitioning and
    re-run). Rank pushdown (WindowGroupLimit) prunes below the shuffle;
    complements stratified_sample_by_lang, which samples a *fraction*
    where this pins a *count*."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("rsv7|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        docs.select(
            "lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id", "n_chars", F.col("rk").cast("int").alias("rk"))
    )


@register(
    "heavy_hitter_users",
    """
    SELECT user_id AS item, CAST(count(*) AS BIGINT) AS est
    FROM events
    GROUP BY user_id
    ORDER BY est DESC, item
    LIMIT 10
    """,
    tags=("training", "sketch", "heavy-hitters"),
)
def heavy_hitter_users(spark, sf_dir):
    """Top-10 most active users via the Misra-Gries heavy-hitters sketch
    (functions/sketches.heavy_hitters): per-partition bounded summaries
    (≤ capacity counters regardless of key cardinality), one merge
    aggregate, top-k. Capacity 512 exceeds the user cardinality, so the
    sketch runs in its exact regime and the oracle is plain exact
    counting; the compaction regime's undercount bound n/(capacity+1)
    is asserted in tests/."""
    from .functions.sketches import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    out = heavy_hitters(ev, "user_id", k=10, capacity=512)
    return out.select("item", F.col("est").cast("long").alias("est"))


#: Equal-share mixture budget (docs) shared by source_mixture_plan and
#: curation_funnel — ONE constant + helper pair rendered into both Spark
#: lanes and both SQL oracles, so the sampling law cannot drift between
#: the standalone query and the composed pipeline.
_MIX_BUDGET = 2000.0


def _mixture_rates(counts):
    """(source, n_docs) → + equal-share Bernoulli `rate`; the source
    count rides a broadcast cross join, not a collect."""
    nsrc = counts.agg(F.count(F.lit(1)).alias("n_src"))
    return counts.crossJoin(F.broadcast(nsrc)).withColumn(
        "rate",
        F.least(F.lit(1.0), (F.lit(_MIX_BUDGET) / F.col("n_src")) / F.col("n_docs")),
    )


def _hash_frac(col):
    """Deterministic uniform fraction in [0,1) from md5 of a key."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) / F.lit(4294967296.0)


def _hash_frac_sql(col: str) -> str:
    return f"('0x' || substr(md5({col}::VARCHAR), 1, 8))::BIGINT / 4294967296.0"


def _mixture_rate_sql() -> str:
    return f"least(1.0, ({_MIX_BUDGET} / (SELECT count(*) FROM counts)) / n_docs)"


@register(
    "weighted_sample_per_source",
    f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             -ln(greatest({_hash_frac_sql('doc_id')}, 1e-12))
               / (n_chars + 1) AS ekey
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY ekey, doc_id) AS rk
      FROM keyed
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
    tags=("training", "sampling", "weighted"),
)
def weighted_sample_per_source(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, top-5 docs per source with
    inclusion probability proportional to length — the
    Efraimidis-Spirakis exponential-key scheme (key = -ln(u)/w, keep the
    k smallest; equivalent to u^(1/w) max-keys), the curation primitive
    for 'sample N docs per source, longer docs proportionally more
    likely' without a sequential pass. u is the deterministic md5
    fraction (same convention as the mixture/reservoir samplers), so
    the draw replays byte-for-byte on both engines and across reruns —
    auditable sampling, not RNG state. Weight = n_chars + 1 (zero-length
    docs keep a positive weight). One scan, per-source top-k via
    WindowGroupLimit rank pruning; no shuffle carries text. The ekey
    column itself is excluded from the output: both engines order by the
    same IEEE doubles but ulp-level ln/pow differences are possible, so
    selection (which rounds through rank) is the contract, floats are
    not."""
    docs = _t(spark, sf_dir, "documents")
    u = F.greatest(_hash_frac(F.col("doc_id")), F.lit(1e-12))
    ekey = -F.log(u) / (F.col("n_chars") + 1)
    w = W.partitionBy("source").orderBy(F.col("ekey"), F.col("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars", ekey.alias("ekey"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source", "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "source_mixture_plan",
    f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    planned AS (
      SELECT source, n_docs, {_mixture_rate_sql()} AS rate
      FROM counts
    ),
    sampled AS (
      SELECT d.source, count(*) AS n_sampled
      FROM documents d JOIN planned p USING (source)
      WHERE {_hash_frac_sql('d.doc_id')} < p.rate
      GROUP BY d.source
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           round(p.rate, 6) AS rate,
           CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM planned p LEFT JOIN sampled s USING (source)
    """,
    tags=("training", "mixing"),
)
def source_mixture_plan(spark, sf_dir):
    """Data mixing — the source-reweighting stage of a pretraining
    pipeline (equal-share target across sources, 2000-doc budget):
    per-source sampling rates from the count profile, then a
    deterministic md5-fraction Bernoulli sample at those rates. The plan
    (a few rows) broadcasts onto the corpus scan, so sampling is a
    map-only filter — rerunnable byte-for-byte (hash-keyed, not random)
    and embarrassingly parallel at any corpus size. The driver-free
    scalar (source count) rides a broadcast cross join, not a collect."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    planned = _mixture_rates(counts)
    sampled = (
        docs.join(F.broadcast(planned.select("source", "rate")), "source")
        .filter(_hash_frac(F.col("doc_id")) < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return planned.join(sampled, "source", "left").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        pround("rate", 6).alias("rate"),
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
    )


@register(
    "temperature_mixture_plan",
    f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    planned AS (
      SELECT source, n_docs,
             round(pow(n_docs, 0.3)
                   / (SELECT sum(pow(n_docs, 0.3)) FROM counts), 6) AS weight,
             round(least(1.0,
                   ({_MIX_BUDGET} * pow(n_docs, 0.3)
                    / (SELECT sum(pow(n_docs, 0.3)) FROM counts))
                   / n_docs), 6) AS rate
      FROM counts
    ),
    sampled AS (
      SELECT d.source, count(*) AS n_sampled
      FROM documents d JOIN planned p USING (source)
      WHERE {_hash_frac_sql('d.doc_id')} < p.rate
      GROUP BY d.source
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           p.weight, p.rate,
           CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM planned p LEFT JOIN sampled s USING (source)
    """,
    tags=("training", "sampling", "mixture"),
)
def temperature_mixture_plan(spark, sf_dir):
    """TEMPERATURE-scaled mixture (p_i ∝ n_i^α, α = 0.3 — the
    mT5/multilingual-pretraining sampling rule, Xue et al. 2021 §3.1):
    up-weights small sources and damps head sources relative to
    natural frequency, where `source_mixture_plan` is the equal-share
    (α = 0) endpoint. Same machinery: weights from the count profile,
    per-source Bernoulli rates against the shared 2000-doc budget,
    deterministic md5-fraction sampling — the plan broadcasts onto the
    corpus scan, the sample is a map-only filter, nothing scales with
    anything but the source count. Rates/weights are 6dp-rounded
    BEFORE the sampling comparison on both engines, so ulp-level
    pow/partial-sum differences cannot flip a document's membership
    (the md5 fraction is an exact 32-bit rational on both sides)."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wpow = F.pow(F.col("n_docs").cast("double"), F.lit(0.3))
    wsum = counts.agg(F.sum(wpow).alias("wsum"))
    planned = (
        counts.crossJoin(F.broadcast(wsum))
        .withColumn("weight", pround(wpow / F.col("wsum"), 6))
        .withColumn(
            "rate",
            pround(
                F.least(
                    F.lit(1.0),
                    F.lit(_MIX_BUDGET) * (wpow / F.col("wsum")) / F.col("n_docs"),
                ),
                6,
            ),
        )
    )
    sampled = (
        docs.join(F.broadcast(planned.select("source", "rate")), "source")
        .filter(_hash_frac(F.col("doc_id")) < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return planned.join(sampled, "source", "left").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "weight",
        "rate",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
    )


@register(
    "curation_funnel",
    f"""
    WITH base AS (
      SELECT doc_id, source, text,
             CAST(ceil(length(trim(coalesce(text, ''))) / 4.0) AS BIGINT) AS est_tokens,
             CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                  ELSE list_transform(string_split_regex(trim(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'),
                                      t -> lower(t)) END AS toks,
             md5(regexp_replace(lower(trim(coalesce(text, ''))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp
      FROM documents
    ),
    feats AS (
      SELECT *, len(toks) AS n_tokens,
             CAST(len(list_filter(toks,
                 x -> x IN ({stopwords_sql_list()}))) AS DOUBLE)
               / nullif(len(toks), 0) AS stop_ratio
      FROM base
    ),
    gated AS (
      SELECT * FROM feats
      WHERE n_tokens >= 25 AND n_tokens <= 90
        AND coalesce(stop_ratio, 0) >= 0.02
    ),
    survivors AS (
      SELECT min(doc_id) AS doc_id,
             arg_min(source, doc_id) AS source,
             arg_min(est_tokens, doc_id) AS est_tokens
      FROM gated GROUP BY fp
    ),
    counts AS (SELECT source, count(*) AS n_docs FROM survivors GROUP BY source),
    planned AS (
      SELECT source, n_docs, {_mixture_rate_sql()} AS rate
      FROM counts
    ),
    sampled AS (
      SELECT s.* FROM survivors s JOIN planned p USING (source)
      WHERE {_hash_frac_sql('s.doc_id')} < p.rate
    ),
    packed AS (
      SELECT source, est_tokens,
             CAST(floor((sum(est_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - est_tokens) / 50000.0)
                  AS BIGINT) AS shard_id
      FROM sampled
    )
    SELECT * FROM (
      SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(est_tokens) AS BIGINT) AS total_est_tokens FROM base
      UNION ALL
      SELECT '1_gate_pass', CAST(count(*) AS BIGINT),
             CAST(sum(est_tokens) AS BIGINT) FROM gated
      UNION ALL
      SELECT '2_dedup_survivors', CAST(count(*) AS BIGINT),
             CAST(sum(est_tokens) AS BIGINT) FROM survivors
      UNION ALL
      SELECT '3_mixture_sample', CAST(count(*) AS BIGINT),
             CAST(sum(est_tokens) AS BIGINT) FROM sampled
      UNION ALL
      SELECT '4_packed_shards',
             CAST(count(DISTINCT (source, shard_id)) AS BIGINT),
             CAST(sum(est_tokens) AS BIGINT) FROM packed
    )
    """,
    tags=("training", "pipeline", "funnel"),
)
def curation_funnel(spark, sf_dir):
    """The corpus-curation pipeline END TO END, as one query: quality
    gate (token-count + stopword thresholds) → exact dedup (min-id
    survivor per canonical fingerprint, survivor attributes via min_by)
    → source-mixture Bernoulli sample (equal-share 2000-doc budget) →
    ~50k-token shard packing — reported as a funnel of (stage, units,
    tokens). Every stage is the registry's own operator composed
    downstream of the previous one, and the whole composition
    hash-matches the oracle: the strongest statement the engine makes
    that its LLM-data stages are CORRECT TOGETHER, not just in
    isolation. Each stage keeps its scale shape (map-side gate, 16-byte
    fingerprint shuffle, broadcast mixture plan, per-source prefix
    sums); the funnel summaries are five tiny aggregates unioned."""
    from pyspark.sql import Window as W

    from .text.analysis import fingerprint, quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    base = docs.select(
        "doc_id", "source",
        F.ceil(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) / 4.0)
        .cast("long").alias("est_tokens"),
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stop_ratio"),
        fingerprint(F.col("text")).alias("fp"),
    )
    gated = base.filter(
        (F.col("n_tokens") >= 25) & (F.col("n_tokens") <= 90)
        & (F.coalesce(F.col("stop_ratio"), F.lit(0.0)) >= 0.02)
    )
    survivors = gated.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("est_tokens", "doc_id").alias("est_tokens"),
    )
    counts = survivors.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    planned = _mixture_rates(counts).select("source", "rate")
    sampled = survivors.join(F.broadcast(planned), "source").filter(
        _hash_frac(F.col("doc_id")) < F.col("rate")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = sampled.withColumn(
        "shard_id",
        F.floor((F.sum("est_tokens").over(w) - F.col("est_tokens")) / 50000.0).cast("long"),
    )

    def stage(df, name, shard=False):
        units = (
            F.countDistinct("source", "shard_id") if shard else F.count(F.lit(1))
        )
        return df.agg(
            units.cast("long").alias("n_units"),
            F.sum("est_tokens").cast("long").alias("total_est_tokens"),
        ).select(F.lit(name).alias("stage"), "n_units", "total_est_tokens")

    return (
        stage(base, "0_all")
        .unionByName(stage(gated, "1_gate_pass"))
        .unionByName(stage(survivors, "2_dedup_survivors"))
        .unionByName(stage(sampled, "3_mixture_sample"))
        .unionByName(stage(packed, "4_packed_shards", shard=True))
    )


def _budget_scored_sql(src: str) -> str:
    """The budgeted-selection scoring SELECT (doc_id, source,
    est_tokens, 6dp stopword-ratio q) over a CTE ``src`` exposing
    (doc_id, source, txt) — ONE copy shared by token_budget_selection's
    oracle and the budgeted-manifest oracle (ADVICE r9: the fragment
    plus its inline stopword list existed as three hand-synced copies);
    the stopword literal comes from `text.analysis.STOPWORDS`, the same
    tuple the engine lane's `quality_features` reads."""
    from .text.analysis import stopwords_sql_list

    return f"""
      SELECT doc_id, source,
             CAST(ceil(length(txt) / 4.0) AS BIGINT) AS est_tokens,
             round(coalesce(
               CAST(len(list_filter(
                 CASE WHEN len(trim(txt)) = 0 THEN []::VARCHAR[]
                      ELSE list_transform(string_split_regex(trim(txt), '[ \\t\\n\\x0b\\f\\r]+'),
                                          x -> lower(x)) END,
                 x -> x IN ({stopwords_sql_list()})))
                 AS DOUBLE)
               / nullif(len(
                 CASE WHEN len(trim(txt)) = 0 THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(txt), '[ \\t\\n\\x0b\\f\\r]+') END), 0),
               0.0), 6) AS q
      FROM {src}"""


def _budget_scored(docs):
    """(doc_id, source, est_tokens, 6dp stopword-ratio score) — the
    budgeted-selection ranking relation, shared by
    token_budget_selection and the curated-manifest composition."""
    from .text.analysis import quality_features

    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id", "source",
        F.ceil(
            F.length(F.coalesce(F.col("text"), F.lit(""))) / 4.0
        ).cast("long").alias("est_tokens"),
        pround(F.coalesce(q["stopword_ratio"], F.lit(0.0)), 6).alias("q"),
    )


@register(
    "token_budget_selection",
    f"""
    WITH t AS (
      SELECT doc_id, source, coalesce(text, '') AS txt
      FROM documents
    ),
    scored AS ({_budget_scored_sql("t")}
    ),
    ranked AS (
      SELECT *, sum(est_tokens) OVER (ORDER BY q DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN cum <= 20000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(sum(CASE WHEN cum <= 20000 THEN est_tokens ELSE 0 END) AS BIGINT)
             AS tokens_admitted
    FROM ranked GROUP BY source
    """,
    tags=("training", "curation", "selection", "budget"),
)
def token_budget_selection(spark, sf_dir):
    """BUDGETED corpus selection: rank every document by a quality score
    (stopword ratio — the same signal the curation gate thresholds) and
    admit the ranked prefix whose running token estimate fits a 20k
    budget (sized to BIND at the sf-dir corpora, so the floating cutoff
    is actually exercised by the value oracle), reporting per-source admitted volume. This is the
    'best data under a compute budget' op — selection where
    `token_budget_shards` is layout and `curation_funnel`'s gate is a
    fixed threshold: the budget, not a score cutoff, decides admission,
    so the cutoff FLOATS with corpus quality.

    Adaptive plan policy (mirrors operators/ranks): at/below
    ranks.NTILE_EXACT_MAX_ROWS documents the ranked prefix sum runs as
    the global ORDER BY window (exact contract, the form a value oracle
    replays row-for-row; one few-MB single-task sort is cheaper than
    distributed machinery at that size).  ABOVE it the same admitted
    set is computed with NO single-partition stage — threshold
    selection (r8 verdict #2):

    1. aggregate (6dp score bucket → token total): the histogram is
       bounded by the score DOMAIN (≤ 1e6+1 buckets for a ratio in
       [0,1]), not the corpus, so the driver-side boundary scan is a
       bounded collect of the ivf-fit-sample class;
    2. walk the histogram best-score-first for the boundary bucket (the
       admitted set is a prefix of the (q desc, doc_id) order because
       the running sum is monotone, so whole buckets above the boundary
       are admitted, whole buckets below rejected);
    3. map-only ``q > cutoff`` flag for the mass of rows, plus an
       intra-bucket ranked topoff on the boundary bucket only via the
       two-stage ranks.global_prefix_sum (no SinglePartition exchange
       even when the boundary bucket is degenerate-large).

    Both paths return identical rows (tests force the threshold path on
    sf data and compare).  Scores are 6dp-rounded BEFORE ranking on
    both engines so ordering cannot hinge on a ulp."""
    from .operators import ranks

    docs = _t(spark, sf_dir, "documents")
    scored = _budget_scored(docs)
    budget = 20000

    def summarize(flagged):
        return flagged.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("admit"), 1).otherwise(0))
            .cast("bigint").alias("n_admitted"),
            F.sum(F.when(F.col("admit"), F.col("est_tokens")).otherwise(0))
            .cast("bigint").alias("tokens_admitted"),
        )

    if docs.count() <= ranks.NTILE_EXACT_MAX_ROWS:
        w = W.orderBy(F.col("q").desc(), "doc_id").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        return summarize(scored.withColumn(
            "admit", F.sum("est_tokens").over(w) <= budget
        ))
    flagged, boundary = _budget_threshold_flags(scored, budget)
    out = summarize(flagged)
    rows = out.collect()  # one row per source — bounded by design
    if boundary is not None:
        ranks.release_rank_cache(boundary)
    return spark.createDataFrame(rows, out.schema)


def _budget_threshold_flags(scored, budget):
    """Scale path for token_budget_selection: flag the budgeted ranked
    prefix of the (q desc, doc_id) order without a global sort.
    Returns (flagged_df, boundary_df_or_None) — the boundary relation
    carries a ranks.global_prefix_sum checkpoint whose lifetime the
    caller owns (release after materializing, see release_rank_cache).

    The admitted set is a PREFIX (the running token sum is monotone
    non-decreasing), so it decomposes into whole score-buckets above a
    boundary score plus a ranked prefix INSIDE the boundary bucket.
    The histogram walk runs on the driver over at most |score domain|
    rows (6dp ratio → ≤ 1e6+1; KB–MB scale, corpus-size independent);
    everything row-scaled stays distributed: one partial-agg shuffle
    for the histogram, a map-only flag for non-boundary rows, and the
    two-stage prefix sum confined to the boundary bucket."""
    from .operators import ranks

    hist = (
        scored.groupBy("q")
        .agg(F.sum("est_tokens").alias("toks"))
        .collect()
    )
    acc = 0
    cutoff = None  # boundary score; None = whole corpus fits
    rem = 0  # budget left for the boundary bucket's ranked prefix
    for row in sorted(hist, key=lambda r: -r["q"]):
        if acc + row["toks"] <= budget:
            acc += row["toks"]
        else:
            cutoff, rem = row["q"], budget - acc
            break
    if cutoff is None:
        return scored.withColumn("admit", F.lit(True)), None
    rest = scored.filter(F.col("q") != cutoff).withColumn(
        "admit", F.col("q") > cutoff
    )
    boundary = ranks.global_prefix_sum(
        scored.filter(F.col("q") == cutoff),
        [F.col("doc_id")], "est_tokens", "bcum",
    )
    flagged = boundary.withColumn("admit", F.col("bcum") <= rem).drop("bcum")
    return rest.unionByName(flagged), boundary


@register(
    "grouped_heavy_hitters",
    """
    SELECT event_type, user_id AS item, est, rk FROM (
      SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS est,
             CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY count(*) DESC, user_id) AS INT) AS rk
      FROM events
      GROUP BY event_type, user_id
    ) WHERE rk <= 5
    """,
    tags=("training", "sketch", "heavy-hitters"),
)
def grouped_heavy_hitters(spark, sf_dir):
    """Top-5 users WITHIN each event type via the per-group Misra-Gries
    sketch (functions/sketches.grouped_heavy_hitters — r5 groundwork,
    registered r6): per-partition per-group bounded summaries (≤
    capacity counters per (partition, group) regardless of key
    cardinality), one (group, item) merge aggregate, per-group top-k
    through the rank window (WindowGroupLimit prunes below the
    shuffle). Capacity 512 exceeds the per-group user cardinality, so
    the sketch runs in its exact regime and the oracle is plain exact
    grouped counting; the compaction regime's per-group undercount
    bound n_g/(capacity+1) is asserted in tests/."""
    from .functions.sketches import grouped_heavy_hitters as ghh

    ev = _t(spark, sf_dir, "events")
    out = ghh(ev, "event_type", "user_id", k=5, capacity=512)
    return out.select(
        "event_type",
        F.col("user_id").alias("item"),
        F.col("est").cast("long").alias("est"),
        F.col("rk").cast("int").alias("rk"),
    )


def _post_dedup_rebalance_oracle() -> str:
    """The temperature law re-fit on the DEDUPED corpus: recursive-CTE
    components over the minhash pair relation, longest-wins survivor
    per cluster (cluster_survivor_selection's arg_max), removal
    anti-join, then the mT5 p∝n^0.3 weights on both the raw and the
    deduped per-source counts."""
    from .queries_text import _removal_ctes

    return f"""
    WITH RECURSIVE {_removal_ctes()},
    counts_raw AS (
      SELECT source, count(*) AS n_raw FROM documents GROUP BY source
    ),
    counts_dd AS (
      SELECT d.source, count(*) AS n_dedup
      FROM documents d LEFT JOIN removed r ON d.doc_id = r.id
      WHERE r.id IS NULL GROUP BY d.source
    ),
    both_c AS (
      SELECT cr.source, cr.n_raw, coalesce(cd.n_dedup, 0) AS n_dedup
      FROM counts_raw cr LEFT JOIN counts_dd cd ON cr.source = cd.source
    )
    SELECT source,
           CAST(n_raw AS BIGINT) AS n_raw,
           CAST(n_dedup AS BIGINT) AS n_dedup,
           round(pow(n_raw, 0.3)
                 / (SELECT sum(pow(n_raw, 0.3)) FROM both_c), 6)
             AS weight_raw,
           round(pow(n_dedup, 0.3)
                 / (SELECT sum(pow(n_dedup, 0.3)) FROM both_c), 6)
             AS weight_dedup,
           round(round(pow(n_dedup, 0.3)
                       / (SELECT sum(pow(n_dedup, 0.3)) FROM both_c), 6)
                 - round(pow(n_raw, 0.3)
                         / (SELECT sum(pow(n_raw, 0.3)) FROM both_c), 6), 6)
             AS weight_shift
    FROM both_c
    """


@register(
    "post_dedup_mixture_rebalance", _post_dedup_rebalance_oracle(),
    tags=("training", "sampling", "mixture", "dedup"),
)
def post_dedup_mixture_rebalance(spark, sf_dir):
    """POST-DEDUP mixture rebalance (r8 verdict #9b) — the real pipeline
    ordering: dedup first, THEN fit the sampling law. Near-dup cluster
    non-survivors (longest-wins policy, cluster_survivor_selection's
    key) are removed from the per-source counts before the temperature
    weights (p ∝ n^0.3, the mT5 rule temperature_mixture_plan applies
    to the RAW profile) are recomputed; `weight_shift` is the signed
    reallocation — sources whose volume was dup-inflated lose share,
    clean sources gain. Composes two green operators (minhash pair
    relation → components → survivor policy; temperature law) into the
    curation step that decides what a training run actually samples.

    Scale shape: pairs are LSH-sized; CC is the checkpointed min-label
    loop (node set = docs in ≥1 pair, dup-rate-bounded); the removal
    set is (members − survivors), applied as an anti-join keyed on
    doc_id; per-source counting is one partial-agg shuffle and the
    weight arithmetic runs on a ≤|sources| relation (broadcast
    cross-join of the 1-row pow-sum). Weights are 6dp-rounded before
    the shift subtraction on both engines (the ulp discipline)."""
    from .queries_text import nonsurvivor_removed_ids

    docs = _t(spark, sf_dir, "documents")
    removed = nonsurvivor_removed_ids(docs)
    deduped = docs.join(
        removed, docs["doc_id"] == removed["id"], "left_anti"
    )
    counts_raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    counts_dd = deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_dedup")
    )
    both_c = counts_raw.join(counts_dd, "source", "left").fillna(
        0, subset=["n_dedup"]
    )
    w_raw = F.pow(F.col("n_raw").cast("double"), F.lit(0.3))
    w_dd = F.pow(F.col("n_dedup").cast("double"), F.lit(0.3))
    sums = both_c.agg(
        F.sum(w_raw).alias("sum_raw"), F.sum(w_dd).alias("sum_dd")
    )
    weight_raw = pround(w_raw / F.col("sum_raw"), 6)
    weight_dedup = pround(w_dd / F.col("sum_dd"), 6)
    return both_c.crossJoin(F.broadcast(sums)).select(
        "source",
        F.col("n_raw").cast("long").alias("n_raw"),
        F.col("n_dedup").cast("long").alias("n_dedup"),
        weight_raw.alias("weight_raw"),
        weight_dedup.alias("weight_dedup"),
        pround(weight_dedup - weight_raw, 6).alias("weight_shift"),
    )


# --- DSIR importance resampling (hashed n-gram features) -------------------

#: DSIR feature-space size: hashed unigram buckets. 2^16 in the paper
#: (Xie et al. 2023); 256 here so the sf-scale histogram is visibly
#: non-sparse — the plan shape is identical at any B.
_DSIR_BUCKETS = 256

#: cross-engine bucket hash: first 4 hex chars of md5(token) → 0..65535,
#: folded mod B. Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT.
_DSIR_BUCKET_SQL = f"('0x' || substr(md5(w), 1, 4))::BIGINT % {_DSIR_BUCKETS}"

from .queries_text import _TOKS as _TOKS_DOC  # noqa: E402  (shared tokenizer fragment)


def _dsir_bucket_counts_arrow(docs):
    """Arrow-vectorized (doc, bucket) count relation — value-identical to
    the JVM explode lane (pinned by test_dsir_lanes_agree + the sf oracle
    rows) and measured faster once data dominates: ×100 idle-host 6.3 s
    vs 13.9 s whole-query in one session (a wash at ×10, where the job
    floor hides it). The win is the `_simhash_parts_arrow` mechanism:
    md5 runs once per DISTINCT token (executor-lifetime memo — the
    bucket vocabulary is hash-bounded) instead of per occurrence through
    conv(substring(md5)), and the per-doc bucket count collapses to one
    np.unique over (doc_ix·B + bucket) keys per Arrow batch.

    Exact-parity notes (each load-bearing, the simhash lane's list):
    lower() BEFORE trim like tokenize(F.lower(text)); Spark trim strips
    0x20 only; re.split matches Spark split's limit −1; Java \\s is the
    ASCII class [ \\t\\n\\x0b\\f\\r]."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    B = _DSIR_BUCKETS
    # Token→bucket digest memo, worker-lifetime. Vocabulary-bounded in
    # practice, but an open-web corpus has no vocabulary bound — cap it
    # and reset wholesale (a reset only costs recomputed md5s; values
    # are pure functions of the token, so correctness is unaffected).
    memo: dict = {}
    memo_cap = 2_000_000

    def mapper(it):
        for pdf in it:
            ids, srcs, langs = [], [], []
            flat_b, seg = [], []
            for did, src, lang, t in zip(
                pdf["doc_id"], pdf["source"], pdf["lang"], pdf["text"]
            ):
                s = (t or "").lower().strip(" ")
                toks = ws.split(s) if s else []
                bs = []
                if len(memo) > memo_cap:
                    memo.clear()
                for tok in toks:
                    b = memo.get(tok)
                    if b is None:
                        b = (
                            int(hashlib.md5(tok.encode()).hexdigest()[:4], 16)
                            % B
                        )
                        memo[tok] = b
                    bs.append(b)
                ids.append(did)
                srcs.append(src)
                langs.append(lang)
                flat_b.append(np.asarray(bs, dtype=np.int64))
                seg.append(len(bs))
            if not ids:
                continue
            doc_ix = np.repeat(np.arange(len(ids)), seg)
            allb = (
                np.concatenate(flat_b)
                if flat_b
                else np.empty(0, dtype=np.int64)
            )
            key = doc_ix * B + allb
            uk, cnt = np.unique(key, return_counts=True)
            di = (uk // B).astype(int)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64)[di],
                    "source": np.asarray(srcs, dtype=object)[di],
                    "lang": np.asarray(langs, dtype=object)[di],
                    "b": uk % B,
                    "n": cnt.astype(np.int64),
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("lang", StringType()),
            StructField("b", LongType()),
            StructField("n", LongType()),
        ]
    )
    return docs.select("doc_id", "source", "lang", "text").mapInPandas(
        mapper, schema
    )


def _dsir_weights_ctes(src: str = "documents") -> str:
    """The full DSIR scoring pipeline as a CTE chain ending in `weights`
    (doc_id, source, lang, n_tokens, 4dp log_importance), parameterized
    over the source relation — `documents` for the raw-pool queries, a
    deduped CTE for the end-to-end curation pipeline."""
    return f"""
    toks_t AS (SELECT doc_id, source, lang, {_TOKS_DOC} AS toks
                    FROM {src}),
    words AS (SELECT doc_id, source, lang, unnest(toks) AS w FROM toks_t),
    bw AS (SELECT doc_id, source, lang, {_DSIR_BUCKET_SQL} AS b FROM words),
    hist AS (
      SELECT b, count(*) AS c_raw,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
      FROM bw GROUP BY b
    ),
    tot AS (SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM hist),
    ratio AS (
      SELECT b,
             ln((c_tgt + 1.0) / (t.n_tgt + {_DSIR_BUCKETS}.0))
           - ln((c_raw + 1.0) / (t.n_raw + {_DSIR_BUCKETS}.0)) AS lr
      FROM hist CROSS JOIN tot t
    ),
    db AS (
      SELECT doc_id, source, lang, b, count(*) AS n
      FROM bw GROUP BY doc_id, source, lang, b
    ),
    weights AS (
      SELECT d.doc_id, d.source, d.lang,
             CAST(sum(d.n) AS BIGINT) AS n_tokens,
             round(sum(d.n * r.lr), 4) AS log_importance
      FROM db d JOIN ratio r ON d.b = r.b
      GROUP BY d.doc_id, d.source, d.lang
    )"""


#: the raw-pool instantiation, shared by the weight query and the
#: Gumbel-top-k resample.
_DSIR_WEIGHTS_CTES = _dsir_weights_ctes()


def _dsir_log_ratio(spark, counts: list[tuple[int, int, int]]):
    """The per-bucket log ratio ``lr = ln p̂[b] − ln q̂[b]`` as a literal
    relation ``(b, lr)``, from exact-integer histogram rows ``(b, c_raw,
    c_tgt)``; the totals are exact Python sums. An empty model (every
    count 0) gives ``lr`` = ln(1/B) − ln(1/B) = exactly 0.0 in every
    bucket, not NULL."""
    n_raw = sum(c[1] for c in counts)
    n_tgt = sum(c[2] for c in counts)
    B = float(_DSIR_BUCKETS)
    return spark.createDataFrame(counts, "b long, c_raw long, c_tgt long").select(
        "b",
        (
            F.log((F.col("c_tgt") + 1.0) / (F.lit(n_tgt).cast("long") + B))
            - F.log((F.col("c_raw") + 1.0) / (F.lit(n_raw).cast("long") + B))
        ).alias("lr"),
    )


def _dsir_weights(docs, lane: str = "arrow"):
    """The DSIR scoring pipeline over an arbitrary document relation —
    shared by the raw-pool query, the Gumbel resample, and the
    dedup-then-score curation pipeline. See dsir_importance_weights
    for the full semantics/scale commentary.

    Calling it starts a Spark job: the bounded ≤256-row ``hist_rows``
    collect runs here, while the plan is built, and its counts become
    a literal in the returned plan. So the ``queries.plan_ms`` of every
    registry query over it includes that execution, and those queries
    are not candidates for ``register(inputs=...)``, whose plan cache
    is for loaders that only plan when called."""
    from .text.analysis import tokenize

    # The ONE occurrence-sized pass: tokenize → (doc, bucket) counts
    # (each doc lives in one input partition, so the partial agg lands
    # at final ≤B-rows-per-doc size before any exchange). Everything
    # below — both histograms, the log-ratio table, the per-doc fold —
    # reads this bucket-count relation, never the tokens again (the
    # heldout_bigram one-shuffle discipline). lane="arrow" (default,
    # registered) memoizes the per-distinct-token md5 in the Arrow
    # worker; lane="jvm" is the pure-built-in explode form the SQL
    # oracle replays term for term — equality pinned by unit test.
    if lane == "arrow":
        # The mapper executes twice per call (hist collect + final
        # fold; r12 — down from ×3 when the ratio lived in the plan).
        # Pinning one execution with a repartition(doc_id) over the
        # mapper was measured WORSE in r11 (×100: 11.6 s vs 3.7 s same
        # protocol — the doc×bucket exchange costs more than one extra
        # memoized-tokenize pass), and a persist() of the mapper output
        # was a wash at ×100 for corpus-scale memory (r12) — the
        # re-execution stays.
        db = _dsir_bucket_counts_arrow(docs)
    else:
        bucket = (
            F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast(
                "long"
            )
            % _DSIR_BUCKETS
        )
        db = (
            docs.select(
                "doc_id", "source", "lang",
                F.explode(tokenize(F.lower(F.col("text")))).alias("w"),
            )
            .select("doc_id", "source", "lang", bucket.alias("b"))
            .groupBy("doc_id", "source", "lang", "b")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    # r12: the histogram/total/ratio chain used to live in the PLAN as
    # aggregation branches of `db` — so the opaque bucket-count pass
    # executed once for the hist branch, once for the tot branch (both
    # inside the ratio BroadcastExchange build) and once for the final
    # per-doc fold: MapInPandas ×3 in the physical plan, three full
    # tokenize passes over the corpus. The histogram is ≤B rows of EXACT
    # integer counts — a bounded collect (the registry's ≤max_vocab
    # class) — so ONE execution now computes it driver-side, the totals
    # are exact Python integer sums, and the log-ratio relation becomes
    # a B-row literal whose `lr` is the SAME JVM log expression over the
    # same exact-long inputs (bit-identical doubles; full-output
    # equality pinned at ×10 and ×100 — OPTIMIZATION_r12.md). Corpus
    # passes: 3 → 2; the two histogram aggregation exchanges and the
    # nested broadcast join disappear from the plan. Persisting `db` to
    # reach one pass was A/B'd at ×100 (2.6–4.2 s vs 3.0–3.3 s — within
    # noise) and REFUSED: it pins a corpus-rows-scale relation in
    # executor memory for a wash.
    hist_rows = (
        db.groupBy("b").agg(
            F.sum("n").alias("c_raw"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("n")).otherwise(0)
            ).alias("c_tgt"),
        )
    ).collect()
    ratio = _dsir_log_ratio(
        docs.sparkSession,
        [(int(r["b"]), int(r["c_raw"]), int(r["c_tgt"])) for r in hist_rows],
    )
    return (
        db.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            pround(F.sum(F.col("n") * F.col("lr")), 4).alias("log_importance"),
        )
    )


@register(
    "dsir_importance_weights",
    f"""
    WITH {_DSIR_WEIGHTS_CTES}
    SELECT doc_id, source, lang, n_tokens, log_importance FROM weights
    """,
    tags=("training", "curation", "dsir", "sampling"),
)
def dsir_importance_weights(spark, sf_dir, lane: str = "arrow"):
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): score every document in the raw pool by how much it
    looks like the TARGET domain (here lang='en'), using hashed
    unigram bucket distributions. Per bucket b: p̂ = smoothed target
    rate, q̂ = smoothed raw-pool rate; a document's log importance
    weight is Σ_tokens (ln p̂[b(tok)] − ln q̂[b(tok)]) — resampling the
    pool ∝ exp(weight) yields a corpus distributed like the target.
    This is the published scale answer to "select 100B target-like
    tokens from 100T raw": the entire model is a B-bucket histogram.

    Scale shape: token traffic collapses map-side to (doc, bucket≤B)
    partial counts — the only occurrence-sized pass; BOTH the target
    and raw histograms come out of that one aggregate (conditional
    sum, no second scan) and are B rows regardless of corpus size, so
    the histogram is a BOUNDED collect (≤B exact-integer rows — the
    registry's ≤max_vocab class) and the log-ratio relation a B-row
    broadcast literal (r12: this cut the opaque bucket-count pass from
    3 plan-branch executions to 2); the per-doc weight is one
    partial-agg shuffle keyed doc_id over bucket-count rows (≤B per
    doc). 4dp rounding is the house ulp discipline for cross-engine
    float sums.

    Calling this function starts a Spark job: `_dsir_weights` collects
    the histogram while it builds the plan, so ``queries.plan_ms``
    includes execution and the query declares no ``inputs``."""
    return _dsir_weights(_t(spark, sf_dir, "documents"), lane)


# --- multinomial Naive Bayes source classifier ------------------------------


@register(
    "nb_source_classifier_eval",
    f"""
    WITH toks_t AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd'
                  THEN 'train' ELSE 'eval' END AS split,
             {_TOKS_DOC} AS toks
      FROM documents
    ),
    words AS (SELECT doc_id, source, split, unnest(toks) AS w FROM toks_t),
    cnt AS (SELECT source AS cls, w, count(*) AS c
            FROM words WHERE split = 'train' GROUP BY cls, w),
    ns AS (SELECT cls, sum(c) AS n_s FROM cnt GROUP BY cls),
    vocab AS (SELECT count(DISTINCT w) AS v FROM words WHERE split = 'train'),
    prior AS (
      SELECT source AS cls,
             ln(count(*) / CAST((SELECT count(*) FROM toks_t
                                 WHERE split = 'train') AS DOUBLE)) AS lp
      FROM toks_t WHERE split = 'train' GROUP BY source
    ),
    testdocs AS (
      SELECT doc_id, source, len(toks) AS tn
      FROM toks_t WHERE split = 'eval' AND len(toks) > 0
    ),
    matched AS (
      SELECT wd.doc_id, c.cls, sum(ln(c.c + 1.0)) AS msum
      FROM (SELECT doc_id, w FROM words WHERE split = 'eval') wd
      JOIN cnt c ON wd.w = c.w
      GROUP BY wd.doc_id, c.cls
    ),
    scored AS (
      SELECT t.doc_id, t.source, p.cls,
             p.lp + coalesce(m.msum, 0.0)
                  - t.tn * ln(n.n_s + (SELECT v FROM vocab)) AS score
      FROM testdocs t
      CROSS JOIN prior p
      JOIN ns n ON n.cls = p.cls
      LEFT JOIN matched m ON m.doc_id = t.doc_id AND m.cls = p.cls
    ),
    pred AS (
      SELECT doc_id, source, cls AS pred_source
      FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id
              ORDER BY round(score, 6) DESC, cls) AS rk
            FROM scored)
      WHERE rk = 1
    )
    SELECT source, pred_source, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY source, pred_source
    """,
    tags=("training", "curation", "classifier", "quality"),
)
def nb_source_classifier_eval(spark, sf_dir):
    """Multinomial Naive Bayes provenance classifier, trained and
    evaluated inside the engine — the SQL-expressible stand-in for the
    fastText-style quality/domain classifiers real curation pipelines
    run over every document (CCNet / GPT-3 data work): fit on the
    deterministic md5 80% split, predict `source` on the held-out 20%,
    return the confusion matrix. Add-one smoothing over the train
    vocabulary; unseen tokens contribute −ln(n_s + V) apiece, folded in
    closed form as tn·ln(n_s+V) so the scorer only ever joins MATCHED
    (token, class) pairs. Argmax per doc is decided on 6dp-rounded
    scores with class-name tie-break (the cross-engine ulp discipline);
    zero-token eval docs have no evidence and are excluded (both
    engines).

    Scale shape: training is ONE occurrence-count aggregate — no SGD,
    no driver state; the (class × train-vocab) count relation and the
    per-class totals/priors are vocabulary-bounded and broadcast (at
    open-web vocabulary the counts would hash into buckets first,
    dsir_importance_weights' trick, without changing the plan); scoring
    is an eval-occurrence × matched-class join aggregated on
    (doc, class) ≤ docs×|classes| rows; the argmax is a |classes|-deep
    per-doc window. Everything downstream of the explode is partial-agg
    shuffles.

    Measured non-improvement (the DSIR repartition lesson repeating):
    pinning ONE exchange-backed eval-word relation to serve both the
    matched join and the token-count aggregate read 3.2 s vs 2.5 s at
    ×10 and 8.5 s vs 7.0 s at ×100 same session — the occurrence-sized
    exchange costs more than the duplicate map-side tokenize it
    removes, so the two eval passes stay."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks_t = docs.select(
        "doc_id",
        "source",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd",
            "train",
        )
        .otherwise("eval")
        .alias("split"),
        tokenize(F.lower(F.col("text"))).alias("toks"),
    )
    words = toks_t.select(
        "doc_id", "source", "split", F.explode("toks").alias("w")
    )
    train_w = words.filter(F.col("split") == "train")
    cnt = (
        train_w.groupBy(F.col("source").alias("cls"), "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ns = cnt.groupBy("cls").agg(F.sum("c").alias("n_s"))
    # |V| from the (class × vocab) count relation, NOT a second pass
    # over train occurrences — same support (a train token appears in
    # ≥1 class row), input is vocabulary-bounded instead of corpus-
    # sized (measured: removes one of the plan's tokenize Generates).
    vocab = cnt.agg(F.countDistinct("w").alias("v"))
    train_docs = toks_t.filter(F.col("split") == "train")
    n_train = train_docs.agg(F.count(F.lit(1)).alias("n_tr"))
    prior = (
        train_docs.groupBy(F.col("source").alias("cls"))
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(F.broadcast(n_train))
        .select("cls", F.log(F.col("nd") / F.col("n_tr").cast("double")).alias("lp"))
    )
    testdocs = toks_t.filter(
        (F.col("split") == "eval") & (F.size("toks") > 0)
    ).select("doc_id", "source", F.size("toks").alias("tn"))
    matched = (
        words.filter(F.col("split") == "eval")
        .select("doc_id", "w")
        .join(F.broadcast(cnt), "w")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.log(F.col("c") + 1.0)).alias("msum"))
    )
    scored = (
        testdocs.crossJoin(F.broadcast(prior))
        .join(F.broadcast(ns), "cls")
        .crossJoin(F.broadcast(vocab))
        .join(matched, ["doc_id", "cls"], "left")
        .select(
            "doc_id",
            "source",
            "cls",
            (
                F.col("lp")
                + F.coalesce(F.col("msum"), F.lit(0.0))
                - F.col("tn") * F.log(F.col("n_s") + F.col("v"))
            ).alias("score"),
        )
    )
    pred = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    pround(F.col("score"), 6).desc(), "cls"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("source", F.col("cls").alias("pred_source"))
    )
    return pred.groupBy("source", "pred_source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


@register(
    "dsir_gumbel_resample",
    f"""
    WITH {_DSIR_WEIGHTS_CTES},
    keyed AS (
      SELECT doc_id, source, log_importance,
             round(log_importance
                   - ln(-ln(greatest({_hash_frac_sql('doc_id')}, 1e-12))),
                   6) AS gkey
      FROM weights
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, log_importance, gkey
    FROM keyed
    ORDER BY gkey DESC, doc_id LIMIT 50
    """,
    tags=("training", "curation", "dsir", "sampling", "gumbel"),
)
def dsir_gumbel_resample(spark, sf_dir):
    """The RESAMPLING half of DSIR (the paper's step 3): draw the
    training subset ∝ exp(log importance weight) via the Gumbel-top-k
    trick — key = log_weight + Gumbel(0,1) noise, take the k largest
    keys, and the draw is distributed exactly like weighted sampling
    without replacement (Efraimidis–Spirakis; the Gumbel-max identity).
    The noise is the house deterministic-random: u = md5-derived
    uniform of doc_id, Gumbel = −ln(−ln(u)) — replayable bit-for-bit
    on any engine, re-run, or backfill, like every sampling query in
    this tier.

    Cross-engine discipline: the key is built from the 4dp-ROUNDED
    log weight (both engines round identically) and is itself
    6dp-rounded BEFORE the top-k ordering with doc_id tiebreak, so the
    selected set cannot flip on a last-ulp ln() divergence between
    libm implementations.

    Scale shape: everything upstream is dsir_importance_weights' plan
    (one Arrow bucket-count pass + 256-row broadcast); the key is a
    map-only expression and the top-50 is TakeOrderedAndProject — no
    global sort, no single-partition window, no collect."""
    weights = dsir_importance_weights(spark, sf_dir)
    gumbel = -F.log(-F.log(F.greatest(_hash_frac(F.col("doc_id")), F.lit(1e-12))))
    keyed = weights.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        "log_importance",
        pround(F.col("log_importance") + gumbel, 6).alias("gkey"),
    )
    return keyed.orderBy(F.col("gkey").desc(), "doc_id").limit(50)


def _dedup_dsir_oracle() -> str:
    """Dedup (minhash pairs → recursive closure → longest-wins
    survivors) THEN the DSIR chain over the deduped relation, then the
    Gumbel-top-k draw — the post_dedup_mixture_rebalance closure CTEs
    composed with the `_dsir_weights_ctes('deduped')` instantiation."""
    from .queries_text import _removal_ctes

    return f"""
    WITH RECURSIVE {_removal_ctes()},
    deduped AS (
      SELECT d.* FROM documents d
      LEFT JOIN removed r ON d.doc_id = r.id
      WHERE r.id IS NULL
    ),
    {_dsir_weights_ctes('deduped').strip()},
    keyed AS (
      SELECT doc_id, source, log_importance,
             round(log_importance
                   - ln(-ln(greatest({_hash_frac_sql('doc_id')}, 1e-12))),
                   6) AS gkey
      FROM weights
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, log_importance, gkey
    FROM keyed
    ORDER BY gkey DESC, doc_id LIMIT 50
    """


@register(
    "dedup_dsir_curation_pipeline", _dedup_dsir_oracle(),
    tags=("training", "curation", "dsir", "dedup", "pipeline"),
)
def dedup_dsir_curation_pipeline(spark, sf_dir):
    """The END-TO-END selection path in the order a real pipeline runs
    it: near-dup dedup FIRST (minhash pairs → components →
    longest-wins survivors), THEN fit the DSIR importance model on the
    deduped corpus, THEN draw the training subset with the Gumbel
    top-k. Scoring after dedup is not a detail: a duplicate flood
    inflates its own buckets in both histograms, dragging every
    document's weight toward the flood's vocabulary — fitting on
    survivors is the same fit-after-dedup correction
    post_dedup_mixture_rebalance applies to the mixture law, now
    applied to the per-document selection itself. Composes three
    green operators; each stage's semantics is individually
    oracle-pinned by its own registration.

    Scale shape: pairs are LSH-sized; CC is the checkpointed min-label
    loop; the removal anti-join is doc_id-keyed; the DSIR stages run
    `_dsir_weights` unchanged on the surviving relation (one Arrow
    bucket-count pass + 256-row broadcast); the draw is map-only +
    TakeOrderedAndProject. The oracle carries the recursive-closure
    CTE, so like its siblings it is sf-scale-checked and
    replica-skipped (the measured OOM class)."""
    from .queries_text import nonsurvivor_removed_ids

    docs = _t(spark, sf_dir, "documents")
    removed = nonsurvivor_removed_ids(docs)
    deduped = docs.join(
        removed, docs["doc_id"] == removed["id"], "left_anti"
    )
    weights = _dsir_weights(deduped)
    gumbel = -F.log(
        -F.log(F.greatest(_hash_frac(F.col("doc_id")), F.lit(1e-12)))
    )
    keyed = weights.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        "log_importance",
        pround(F.col("log_importance") + gumbel, 6).alias("gkey"),
    )
    return keyed.orderBy(F.col("gkey").desc(), "doc_id").limit(50)


_MANIFEST_BUDGET = 8000


def _budgeted_manifest_oracle() -> str:
    from .queries_text import _published_pipeline_ctes

    return f"""
    WITH RECURSIVE {_published_pipeline_ctes()},
    manifest AS (
      SELECT d.doc_id, d.source, coalesce(d.text, '') AS txt
      FROM documents d JOIN final f ON d.doc_id = f.doc_id
    ),
    mscored AS ({_budget_scored_sql("manifest")}
    ),
    mranked AS (
      SELECT *, sum(est_tokens) OVER (ORDER BY q DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
      FROM mscored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN cum <= {_MANIFEST_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(sum(CASE WHEN cum <= {_MANIFEST_BUDGET} THEN est_tokens
                         ELSE 0 END) AS BIGINT) AS tokens_admitted
    FROM mranked GROUP BY source ORDER BY source
    """


@register(
    "budgeted_curation_manifest", _budgeted_manifest_oracle(),
    tags=("training", "curation", "pipeline", "budget", "selection"),
)
def budgeted_curation_manifest(spark, sf_dir):
    """The LAST stage of the curation story: the published pipeline's
    survivors (dedup → Gopher gate → perplexity terciles, the
    `published_curation_pipeline` stages) ranked by quality and cut to
    a token BUDGET — what actually ships to the trainer when compute,
    not corpus size, is the binding constraint. Per source: curated
    docs, budget-admitted docs, admitted token volume. The budget (8k,
    sized to BIND on the sf-dir curated populations) floats the
    admission cutoff with corpus quality exactly as
    `token_budget_selection` does on the raw corpus — composing it on
    curated survivors is the ordering a real run uses (filter first,
    then spend the budget on the best of what's left).

    Scale shape: the pipeline stages are the shared fragment relations
    (closure dup-bounded, gate map-side, LM one-pass); the manifest
    join is doc_id-keyed; ranking follows token_budget_selection's
    adaptive policy — the exact global window at/below
    ranks.NTILE_EXACT_MAX_ROWS curated docs (the form the oracle
    replays), the bucket-histogram threshold path with NO
    SinglePartition exchange above it. Oracle embeds the removal
    closure → the measured ×10 OOM skip class; sf tiers hash-checked."""
    from .operators import ranks
    from .queries_text import _published_pipeline_stage_dfs

    docs = _t(spark, sf_dir, "documents")
    _, _, final = _published_pipeline_stage_dfs(spark, docs)
    manifest = docs.join(final.select("doc_id"), "doc_id")
    # The scored manifest is read TWICE — once by the exact-vs-threshold
    # policy count, once by the ranking/summary — and upstream of it sits
    # the ENTIRE published pipeline (minhash pairs, checkpointed CC,
    # Gopher gate, CCNet scoring). Without a cache the policy count
    # executed all of it a second time (ADVICE r9). Persist the slim
    # (doc_id, source, est_tokens, q) relation, count THAT for the
    # policy, and release the cache after the bounded per-source rows
    # are materialized.
    scored = _budget_scored(manifest).persist()

    def summarize(flagged):
        return flagged.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("admit"), 1).otherwise(0))
            .cast("bigint").alias("n_admitted"),
            F.sum(F.when(F.col("admit"), F.col("est_tokens")).otherwise(0))
            .cast("bigint").alias("tokens_admitted"),
        ).orderBy("source")

    try:
        if scored.count() <= ranks.NTILE_EXACT_MAX_ROWS:
            w = W.orderBy(F.col("q").desc(), "doc_id").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
            out = summarize(scored.withColumn(
                "admit", F.sum("est_tokens").over(w) <= _MANIFEST_BUDGET
            ))
            rows = out.collect()  # one row per source — bounded by design
        else:
            flagged, boundary = _budget_threshold_flags(
                scored, _MANIFEST_BUDGET
            )
            out = summarize(flagged)
            rows = out.collect()
            if boundary is not None:
                ranks.release_rank_cache(boundary)
        return spark.createDataFrame(rows, out.schema)
    finally:
        scored.unpersist()
