"""Text-tier queries — dedup, text analysis, fingerprinting, sentiment
(SURVEY.md §2.11 X1/X2/X4 + U1) over the documents table.

The MinHash-LSH oracle is *generated* from the same constants as the engine
implementation (seeds, band layout, shingle width), so the approximate
near-dup pipeline is hash-checked end to end — unusual for LSH, possible
here because the signature construction is deterministic md5 min-hashing
(text/dedup.py).
"""

import math

from pyspark.sql import Window as W, functions as F

from .io.cache import VersionCache, relation_version
from .query_registry import _t, pround, register
from .text.analysis import LANG_MARKERS, stopwords_sql_list

# --- shared SQL fragments -------------------------------------------------

#: whitespace tokens, lowercased (matches text/analysis.tokenize + lower).
#: The empty/whitespace-only guard matters: DuckDB's string_split_regex
#: returns [''] (len 1) for empty input where tokenize() returns an empty
#: array — latent divergence on any corpus containing empty docs.
#: The explicit character class spells out Java's \s ([ \t\n\x0B\f\r]) —
#: RE2's \s EXCLUDES vertical tab, so a plain '\s+' oracle would split
#: differently from every engine lane on any \x0B-containing document
#: (ADVICE r8); the same class is used in every oracle regexp_replace.
_TOKS = (
    "(CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[] "
    "ELSE list_transform(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'), t -> lower(t)) END)"
)

#: word 3-gram shingle set (matches text/dedup.shingles, n=3)
_SHINGLES = f"""
list_distinct(
  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       ELSE list_transform(range(1, len(toks) - 1),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
  END)
""".strip()

_NUM_HASHES, _BANDS, _JACCARD_T = 8, 4, 0.3


def _minhash_oracle() -> str:
    rows_per_band = _NUM_HASHES // _BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh_{i}"
        for i in range(_NUM_HASHES)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT id, sh, {b} AS band_idx, md5(concat_ws('|', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id AS id, {_SHINGLES} AS sh FROM toks_t),
    sig AS (SELECT id, sh, {sig_cols} FROM base),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             any_value(a.sh) AS sh_a, any_value(b.sh) AS sh_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    scored AS (
      SELECT id_a, id_b,
             round(len(list_intersect(sh_a, sh_b))
                   / CAST(nullif(len(list_distinct(list_concat(sh_a, sh_b))), 0) AS DOUBLE),
                   6) AS jaccard
      FROM cand
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {_JACCARD_T}
    """


@register(
    "exact_dedup_docs",
    """
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
    """,
    tags=("text", "X1", "dedup"),
)
def exact_dedup_docs(spark, sf_dir):
    """X1 — exact dedup on canonical md5 fingerprint; smallest doc_id
    survives, duplicate count retained. The shuffle carries 16-byte
    hashes, never document bodies (text/dedup.exact_dedup)."""
    from .text.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "token_stats_by_lang",
    f"""
    WITH toks_t AS (SELECT lang, len({_TOKS}) AS n_tok FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4) AS avg_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens
    FROM toks_t GROUP BY lang
    """,
    tags=("text", "X4"),
)
def token_stats_by_lang(spark, sf_dir):
    """X4 — whitespace token counting (text/analysis.token_count),
    aggregated per language label."""
    from .text.analysis import token_count

    docs = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text")).cast("long")
    return (
        docs.select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            pround(F.sum("n_tok").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_tokens"
            ),
            F.max("n_tok").alias("max_tokens"),
        )
    )


@register(
    "doc_quality_features",
    f"""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS txt,
             {_TOKS.replace("text", "coalesce(text, '')")} AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(length(txt) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(ceil(length(txt) / 4.0) AS BIGINT) AS n_tokens_bpe_est,
           round(CAST(length(txt) - length(regexp_replace(txt, '[.,!?;:''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                 / nullif(length(txt), 0), 6) AS punct_ratio,
           round(CAST(len(list_filter(toks,
                     x -> x IN ({stopwords_sql_list()}))) AS DOUBLE)
                 / nullif(len(toks), 0), 6) AS stopword_ratio
    FROM t
    """,
    tags=("text", "X4"),
)
def doc_quality_features(spark, sf_dir):
    """X4 — quality scoring signals: length, token counts, BPE-ish
    estimate, punctuation ratio, stopword ratio — all JVM-side regex/array
    expressions (text/analysis.quality_features)."""
    from .text.analysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_chars"].cast("long").alias("n_chars"),
        q["n_tokens"].cast("long").alias("n_tokens"),
        q["n_tokens_bpe_est"].alias("n_tokens_bpe_est"),
        pround(q["punct_ratio"], 6).alias("punct_ratio"),
        pround(q["stopword_ratio"], 6).alias("stopword_ratio"),
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(toks, x -> x IN ({inlist}))) AS s_{lang}"
        )
    # argmax with ties broken by lexicographically greatest language code
    langs_desc = sorted(LANG_MARKERS, reverse=True)
    case = " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs_desc
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {", ".join(score_cols)} FROM t),
    b AS (SELECT *, greatest({", ".join("s_" + lg for lg in LANG_MARKERS)}) AS best FROM s),
    d AS (SELECT doc_id, CASE WHEN best = 0 THEN 'und' {case} END AS detected FROM b)
    SELECT detected, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY detected
    """


@register("language_id_counts", _langid_oracle(), tags=("text", "X4"))
def language_id_counts(spark, sf_dir):
    """X4 — heuristic stopword-marker language ID (text/analysis.
    language_id): per-language hit counts, argmax with deterministic
    tie-break, 'und' when no marker matches."""
    from .text.analysis import language_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(language_id(F.col("text")).alias("detected"))
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "fingerprint_uniqueness_by_source",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS BIGINT)
             AS n_unique
    FROM documents GROUP BY source
    """,
    tags=("text", "X4"),
)
def fingerprint_uniqueness_by_source(spark, sf_dir):
    """X4 — md5 document fingerprinting (text/analysis.fingerprint):
    distinct-fingerprint counts per source."""
    from .text.analysis import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
        )
    )


@register("minhash_near_dup_pairs", _minhash_oracle(), tags=("text", "X2", "dedup"))
def minhash_near_dup_pairs_q(spark, sf_dir):
    """X2 — banded MinHash LSH near-dup pairs, exact-Jaccard verified
    (text/dedup.minhash_near_dup_pairs; 8 hashes x 4 bands, 3-gram
    shingles, threshold 0.3). Oracle SQL is generated from the same
    constants — the full LSH pipeline is hash-checked.

    ``persist=True`` caches the thrice-referenced (id, shingles) relation
    so the tokenize/shingle subtree expands once (1.84 s → 1.18 s at
    sf0.1); the call-scoped cache release keeps registry runs free of
    executor-memory residue."""
    from .text.dedup import minhash_near_dup_pairs

    return minhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=3,
        jaccard_threshold=_JACCARD_T,
        persist=True,
    )


@register(
    "cross_source_dup_matrix",
    f"""
    WITH pairs AS ({_minhash_oracle()}),
    j AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             p.jaccard
      FROM pairs p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard
    FROM j GROUP BY source_a, source_b
    """,
    tags=("text", "X2", "dedup", "contamination"),
)
def cross_source_dup_matrix(spark, sf_dir):
    """X2 composition — the source×source DUPLICATION MATRIX: near-dup
    pair volume and mean Jaccard between every (unordered) pair of
    sources, from the banded-MinHash pair relation. The report a corpus
    curator reads to find which feeds copy from which (off-diagonal
    mass = cross-source contamination; diagonal mass = within-feed
    templating) before deciding survivor policy.

    Scale shape: the pair relation is LSH-sized (dup-rate-bounded, two
    8-byte ids + a double), and the enrichment joins attach the 2-column
    (doc_id, source) projection — column-pruned at the scan — keyed on
    ids; the final groupBy lands on a ≤|sources|² cell grid. Nothing in
    the plan is quadratic in corpus size and no join carries text."""
    from .text.dedup import minhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=3,
        jaccard_threshold=_JACCARD_T,
        persist=True,
    )
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            pround(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


@register(
    "ngram_jaccard_near_dups",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id AS id, {_SHINGLES} AS sh FROM toks_t),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(len(list_intersect(a.sh, b.sh))
                   / CAST(nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0) AS DOUBLE),
                   6) AS jaccard
      FROM base a JOIN base b ON a.id < b.id
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.3
    """,
    tags=("text", "X2", "dedup"),
)
def ngram_jaccard_near_dups(spark, sf_dir):
    """X2 ground truth — exact all-pairs n-gram Jaccard (text/dedup.
    ngram_jaccard_pairs). O(n²): the oracle for LSH recall at test scale;
    block before using at corpus scale."""
    from .text.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=3, threshold=0.3
    )


def _sentiment_oracle() -> str:
    from .text.sentiment import vader_oracle_sql

    return vader_oracle_sql(table="documents", id_col="doc_id", text_col="text")


@register("doc_sentiment", _sentiment_oracle(), tags=("text", "U1"))
def doc_sentiment(spark, sf_dir):
    """U1 — the sentiment UDF path (text/sentiment.sentiment_score): the
    vendored-VADER scorer (valence lexicon + negation/booster/punctuation
    rules + compound normalization, fetch_transform_news.py:171-175) as an
    Arrow-batched pandas UDF. Every rule is elementary token-window
    arithmetic, so even this Python-UDF lane is value-checked — the oracle
    SQL is generated from the same lexicon (text/sentiment.vader_oracle_sql)."""
    from .io.readers import spread
    from .text.sentiment import sentiment_score

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", pround(sentiment_score(F.col("text")), 4).alias("sentiment")
    )


def _simhash_oracle() -> str:
    # replicate text/dedup.simhash64(bits=32): per distinct lowercased token,
    # md5 -> first 8 hex -> uint32; vote per bit; pack sign bits.
    return """
    WITH t AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                    ELSE list_transform(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                        x -> lower(x)) END) AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
      FROM t
    )
    SELECT doc_id,
           list_sum(list_transform(range(0, 32), b ->
             CASE WHEN list_sum(list_transform(hs, h ->
                    CASE WHEN CAST(floor(h / pow(2.0, b)) AS BIGINT) % 2 = 1
                         THEN 1 ELSE -1 END)) > 0
                  THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
    FROM h
    """


@register("simhash_fingerprints", _simhash_oracle(), tags=("text", "X2", "dedup"))
def simhash_fingerprints(spark, sf_dir):
    """X2 — 32-bit SimHash fingerprints (text/dedup.simhash64): near-dups
    differ in few bits; bucketing on the fingerprint gives an
    O(n)-candidate dedup pass. Pure higher-order-function SQL on both
    sides."""
    from .io.readers import spread
    from .text.dedup import simhash64

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", simhash64(F.col("text")).alias("simhash"))


def _simhash_hamming_oracle() -> str:
    # EXACT quadratic ground truth: both 32-bit simhash halves (md5 hex
    # offsets 1 and 9 — text/dedup.simhash64(md5_offset=...)) for every
    # document, then the full O(n²) Hamming self-join. Independent of the
    # engine's bit-slice blocking, so a value match at sf scale witnesses
    # the 4x16-bit pigeonhole recall guarantee itself.
    return """
    WITH t AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                    ELSE list_transform(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                        x -> lower(x)) END) AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hlo,
             list_transform(toks, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS hhi
      FROM t
    ),
    fp AS (
      SELECT doc_id,
        list_sum(list_transform(range(0, 32), b ->
          CASE WHEN list_sum(list_transform(hlo, h ->
                 CASE WHEN CAST(floor(h / pow(2.0, b)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END)) > 0
               THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END))::BIGINT AS lo,
        list_sum(list_transform(range(0, 32), b ->
          CASE WHEN list_sum(list_transform(hhi, h ->
                 CASE WHEN CAST(floor(h / pow(2.0, b)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END)) > 0
               THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END))::BIGINT AS hi
      FROM h
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    """


@register(
    "simhash_hamming_pairs",
    _simhash_hamming_oracle(),
    tags=("text", "X2", "dedup"),
)
def simhash_hamming_pairs_q(spark, sf_dir):
    """X2 — SimHash near-dup PAIRS at Hamming distance ≤ 3 over a 64-bit
    (two independent 32-bit halves) fingerprint, via bit-slice blocking
    (Manku et al. WWW'07): 4 contiguous 16-bit blocks, pigeonhole recall
    guarantee, equi-join candidate generation — the O(n²) comparison
    never runs. The oracle IS the exact quadratic join, so the hash
    match verifies the blocking's completeness, not just its arithmetic.
    Completes the SimHash lane from fingerprints (simhash_fingerprints)
    to the pair report the dedup pipeline consumes."""
    from .io.readers import spread
    from .text.dedup import simhash_hamming_pairs

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return simhash_hamming_pairs(docs)


@register(
    "blocked_jaccard_within_source",
    f"""
    WITH toks_t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id AS id, source AS blk, {_SHINGLES} AS sh FROM toks_t),
    pairs AS (
      SELECT a.blk, a.id AS id_a, b.id AS id_b,
             round(len(list_intersect(a.sh, b.sh))
                   / CAST(nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0) AS DOUBLE),
                   6) AS jaccard
      FROM base a JOIN base b ON a.blk = b.blk AND a.id < b.id
      -- no-evidence rule: a pair of two ZERO-shingle docs has NULL
      -- jaccard and is not a pair in the engine lane either
      WHERE len(a.sh) + len(b.sh) > 0
    )
    SELECT blk AS source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(max(jaccard), 6) AS max_jaccard
    FROM pairs GROUP BY blk
    """,
    tags=("text", "X2", "dedup", "scale"),
)
def blocked_jaccard_within_source(spark, sf_dir):
    """X2 scale path — BLOCKED exact Jaccard (text/dedup.ngram_jaccard_pairs
    with block_col): the quadratic pair space is bounded per source block
    instead of corpus-wide, which is how the exact verifier runs at 100 TB
    (block key = LSH bucket, length band, or a metadata column like this
    one). The equi-join keys on the block, so each task's pair expansion is
    local to its block partition. Per-block pair counts and max similarity
    summarize the result stably."""
    from .text.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.0, block_col=F.col("source")
    )
    # re-derive the block for the summary (pairs carries ids only)
    src = docs.select(F.col("doc_id").alias("id_a"), F.col("source"))
    return (
        pairs.join(src, "id_a")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            pround(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


@register(
    "top_trigrams",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks_t),
    grams AS (SELECT unnest(sh) AS gram, doc_id FROM base)
    SELECT gram,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM grams GROUP BY gram
    ORDER BY n_docs DESC, gram
    LIMIT 20
    """,
    tags=("text", "X4", "stats"),
)
def top_trigrams(spark, sf_dir):
    """Corpus vocabulary pass — most common word trigrams by document
    frequency (shingles are per-doc distinct, so count(*) = doc frequency).
    The explode multiplies rows by ~tokens-per-doc before the aggregate —
    the shuffle profile of every corpus-statistics job — but partial
    aggregation collapses repeats map-side and the top-k is
    TakeOrderedAndProject, so the driver receives 20 rows, not the
    vocabulary."""
    from .text.dedup import shingles

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(F.explode(shingles("text", 3)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("gram"))
        .limit(20)
    )


@register(
    "repetition_signals",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS top_c FROM wc GROUP BY 1),
    bg AS (
      SELECT doc_id, len(ws) AS n,
             len(list_distinct(ws)) AS n_distinct,
             list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgs
      FROM toks
    )
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_words,
           round(b.n_distinct / CAST(nullif(b.n, 0) AS DOUBLE), 4) AS type_token_ratio,
           round(t.top_c / CAST(nullif(b.n, 0) AS DOUBLE), 4) AS top_word_frac,
           round(1.0 - len(list_distinct(bgs)) / CAST(nullif(len(bgs), 0) AS DOUBLE), 4)
             AS dup_bigram_frac
    FROM bg b LEFT JOIN top t USING (doc_id)
    """,
    tags=("text", "X4", "quality"),
)
def repetition_signals_q(spark, sf_dir):
    """Gopher/MassiveText repetition filters per document — type-token
    ratio, most-frequent-token share, duplicate-bigram fraction
    (text/analysis.repetition_signals). Engine side is map-only array
    expressions (mode count = longest run in the sorted token array, one
    aggregate() pass); the oracle takes the explode→groupBy road to the
    same numbers."""
    from .text.analysis import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    sig = repetition_signals(F.col("text"))
    return docs.select(
        "doc_id",
        sig["n_words"].alias("n_words"),
        pround(sig["type_token_ratio"], 4).alias("type_token_ratio"),
        pround(sig["top_word_frac"], 4).alias("top_word_frac"),
        pround(sig["dup_bigram_frac"], 4).alias("dup_bigram_frac"),
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.w,
             (t.tf / CAST(d.dl AS DOUBLE))
               * (ln((1.0 + n.n_docs) / (1.0 + f.df)) + 1.0) AS tfidf
      FROM tf t JOIN dl d USING (doc_id) JOIN dfreq f USING (w) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, w, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rk
      FROM scored
    )
    SELECT doc_id, w AS term, CAST(rk AS INT) AS rk, round(tfidf, 6) AS tfidf
    FROM ranked WHERE rk <= 3
    """,
    tags=("text", "X4", "tfidf"),
)
def tfidf_top_terms(spark, sf_dir):
    """Distributed TF-IDF, top-3 terms per document — the canonical
    explode → (doc,term) aggregate → document-frequency join → rank
    pipeline (sklearn-style smooth idf: ln((1+N)/(1+df)) + 1), planned
    for ONE token-level shuffle WRITE:

    - DOCUMENTS are repartitioned by doc_id BEFORE the explode: the one
      corpus-level exchange carries ~600-byte doc rows, not token rows,
      and hash(doc_id) propagates through the explode to satisfy the
      clustering requirement of the (doc_id, w) groupBy, the doc-length
      window, and the per-doc rank window, so the whole token pipeline
      runs off that single exchange. The partition count is pinned
      (column-only repartition is AQE-coalescible; N-ary is not) because
      the relation is small in BYTES but fans out ~100× in the explode —
      size-based coalescing would serialize the token work.
    - the (doc,term) relation feeds two consumers (tf chain + the
      document-frequency aggregate), each re-running the doc exchange +
      in-partition explode/aggregate. A persist of the (doc,term)
      relation was measured strictly SLOWER at ×10 (0.93 s vs 0.72 s):
      the cache write/read of the full token-level relation costs more
      than repeating the cheap doc-level shuffle (corpus bytes, not
      token rows) and its in-partition fan-out.
    - the df relation aggregates to vocabulary size before its join and
      carries no join hint: AQE sizes it at runtime and converts to
      broadcast whenever the vocabulary is small — the scale-safe
      default when a corpus' vocabulary outgrows broadcast.
    - lower-then-tokenize keeps the projection in whole-stage codegen
      (the transform(_, lower) HOF form evaluates an interpreted lambda
      per token); identical tokens for whitespace splitting.

    Per-doc rank prunes via WindowGroupLimit — ties broken by term so
    both engines pick identical rows."""
    from .text.analysis import tokenize

    from .io.readers import spread

    docs = _t(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # spread() (r12): same keyed spread-up for a narrow scan — the
    # doc_id exchange still serves the tf groupBy AND the dl window —
    # but a corpus that already scans wide no longer pays a raw-text
    # shuffle (§2.3); the downstream aggregations then exchange at
    # (doc, word) grain instead.
    words = (
        spread(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.explode(tokenize(F.lower(F.col("text")))).alias("w"),
        )
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.withColumn("dl", F.sum("tf").over(W.partitionBy("doc_id")))
        .join(dfreq, "w")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            (F.col("tf") / F.col("dl").cast("double"))
            * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id", F.col("w").alias("term"),
            F.col("rk").cast("int").alias("rk"),
            pround("tfidf", 6).alias("tfidf"),
        )
    )


@register(
    "bigram_logprob_score",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b,
             unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS b1
      FROM toks_t
    ),
    cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    pre AS (SELECT b1, count(*) AS cp FROM bg GROUP BY b1)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(ln(c.c / CAST(p.cp AS DOUBLE))) / count(*), 4)
             AS avg_bigram_logprob
    FROM bg g JOIN cnt c USING (b) JOIN pre p USING (b1)
    GROUP BY g.doc_id
    """,
    tags=("text", "X4", "quality", "lm"),
)
def bigram_logprob_score(spark, sf_dir):
    """Bigram language-model scoring — the order-2 upgrade of
    unigram_logprob_score: each document's mean conditional token
    log-probability ln(C(w1,w2)/C(w1·)) under corpus bigram MLE counts,
    the stronger fluency/quality signal (word-salad text scores low even
    when its unigrams are common). Bigrams come from a map-side indexed
    array transform over the token array — no window, no self-join; the
    denominator C(w1·) is the bigram-PREFIX count (derived from the
    bigram relation itself, so numerator and denominator see the same
    event space). Documents repartition by doc_id before the explode
    (the tfidf_top_terms shuffle shape: corpus bytes, not token rows),
    so the count aggregates shuffle bounded bigram-vocabulary partials
    and the per-doc mean runs off the doc exchange; both count
    relations are AQE-sized into broadcast joins when small. Docs with
    fewer than two tokens have no bigrams and produce no row (both
    engines)."""
    from .text.analysis import tokenize

    from .io.readers import spread

    docs = _t(spark, sf_dir, "documents")
    toks = tokenize(F.lower(F.col("text")))
    pairs = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("b1"), F.concat_ws(" ", x, F.element_at(toks, i + 2)).alias("b")
        ),
    )
    # spread() (r12): keyed spread-up only while the scan is narrow —
    # no raw-text shuffle once the corpus scans wide (§2.3)
    bg = (
        spread(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.b1").alias("b1"), F.col("p.b").alias("b"))
    )
    cnt = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    pre = bg.groupBy("b1").agg(F.count(F.lit(1)).alias("cp"))
    return (
        bg.join(cnt, "b")
        .join(pre, "b1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            pround(
                F.sum(F.log(F.col("c") / F.col("cp").cast("double")))
                / F.count(F.lit(1)),
                4,
            ).alias("avg_bigram_logprob"),
        )
    )


@register(
    "unigram_logprob_score",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
    words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM freq)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(ln(f.c / CAST(t.n AS DOUBLE))) / count(*), 4)
             AS avg_logprob
    FROM words d JOIN freq f USING (w) CROSS JOIN tot t
    GROUP BY d.doc_id
    """,
    tags=("text", "X4", "quality"),
)
def unigram_logprob_score(spark, sf_dir):
    """Unigram language-model scoring (the CCNet-style quality signal):
    each document's mean token log-probability under the corpus unigram
    distribution — rare-word-heavy docs score low. explode → corpus
    frequency aggregate → frequency join back → per-doc mean. The
    vocabulary aggregate is tiny relative to the corpus, so the join
    broadcasts at any scale; token traffic shuffles once for the corpus
    count and once for the per-doc mean."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.transform(tokenize(F.col("text")), lambda x: F.lower(x))).alias("w"),
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    return (
        words.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            pround(
                F.sum(F.log(F.col("c") / F.col("n").cast("double"))) / F.count(F.lit(1)),
                4,
            ).alias("avg_logprob"),
        )
    )


@register(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_oracle().strip()})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    cc AS (
      SELECT id, id AS comp FROM nodes
      UNION
      SELECT e.b AS id, c.comp FROM cc c JOIN edges e ON e.a = c.id
    ),
    labeled AS (SELECT id, min(comp) AS component FROM cc GROUP BY id)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) - 1 AS BIGINT) AS n_removed,
           max(id) AS max_member
    FROM labeled GROUP BY component
    """,
    tags=("text", "X2", "dedup", "clusters"),
)
def near_dup_clusters(spark, sf_dir):
    """Near-dup pairs collapsed into dedup clusters — connected components
    via iterative min-label propagation (text/clusters), the pass that
    turns pairwise LSH output into survivor groups (A~B, B~C ⇒ one
    cluster even without an A~C edge). The oracle computes the same
    components with a recursive transitive-closure CTE — exact equality
    between a fixpoint graph algorithm and SQL recursion.

    r11: aggregates the memoized :func:`near_dup_cluster_labels`
    relation (pair build persists its shingle cache — scope-released
    inside the builder, nothing session-global survives the call)."""
    cc = near_dup_cluster_labels(_t(spark, sf_dir, "documents"))
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_removed"),
        F.max("id").alias("max_member"),
    )


@register(
    "simhash_dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_simhash_hamming_oracle().strip()})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    cc AS (
      SELECT id, id AS comp FROM nodes
      UNION
      SELECT e.b AS id, c.comp FROM cc c JOIN edges e ON e.a = c.id
    ),
    labeled AS (SELECT id, min(comp) AS component FROM cc GROUP BY id)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) - 1 AS BIGINT) AS n_removed,
           max(id) AS max_member
    FROM labeled GROUP BY component
    """,
    tags=("text", "X2", "dedup", "clusters", "simhash"),
)
def simhash_dedup_clusters(spark, sf_dir):
    """SimHash dedup clusters — the Hamming-neighbor pair relation
    (simhash_hamming_pairs, bit-slice blocked) collapsed into survivor
    groups by the same min-label-propagation components pass the
    MinHash lane uses, completing the SimHash lane to full dedup parity
    (fingerprints → pairs → clusters). Oracle recomputes the components
    with a recursive transitive-closure CTE over the exact quadratic
    pair ground truth — both the blocking's recall AND the fixpoint
    labeling are value-checked in one query.

    r9 (verdict #5): runs the EXACT-COLLAPSE form — identical
    fingerprints become one weighted representative node before the CC
    loop, shrinking the iterated graph by the corpus dup-rate (a
    k-flood is 1 node, not a k²/2-edge clique); structurally
    equivalent to the uncollapsed rollup (see
    text/dedup.simhash_cluster_summary), pinned by test and by this
    unchanged full-graph oracle."""
    from .text.dedup import simhash_cluster_summary

    from .io.readers import spread

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return simhash_cluster_summary(docs)


def _pii_oracle() -> str:
    """Generated from text/analysis.PII_PATTERNS so the two lanes share
    one pattern table (replacement order matters and is preserved)."""
    from .text.analysis import PII_PATTERNS

    enrich = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com via "
        "https://ex.org/d/' || CAST(doc_id AS VARCHAR) || ' or +1-555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    ctes = [f"s0 AS (SELECT doc_id, {enrich} AS s FROM documents)"]
    carried: list[str] = []
    for idx, (name, pat, token) in enumerate(PII_PATTERNS):
        # DuckDB string literals are standard SQL: backslashes pass
        # through verbatim, only quotes need doubling
        esc = pat.replace("'", "''")
        keep = (", ".join(carried) + ", ") if carried else ""
        ctes.append(
            f"s{idx + 1} AS (SELECT doc_id, {keep}"
            f"len(regexp_extract_all(s, '{esc}')) AS n_{name}, "
            f"regexp_replace(s, '{esc}', '{token}', 'g') AS s FROM s{idx})"
        )
        carried.append(f"n_{name}")
    counts = ", ".join(f"CAST({c} AS INT) AS {c}" for c in carried)
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH {cte_sql}
    SELECT doc_id, {counts},
           CAST(length(s) AS BIGINT) AS redacted_len,
           md5(s) AS redacted_fp
    FROM s{len(PII_PATTERNS)}
    """


@register("doc_pii_redaction", _pii_oracle(), tags=("text", "X4", "pii"))
def doc_pii_redaction(spark, sf_dir):
    """Training-data PII scrubbing (text/analysis.redact_pii): emails,
    URLs and phone numbers replaced by typed placeholders, per-family
    counts kept for audit. The corpus has no natural PII, so each doc
    gains a deterministic contact string derived from its id (same
    derivation in the oracle) — the twin-derivation pattern
    embedding_cosine_near_dup uses. Redaction itself is verified through
    md5 of the full redacted text, not just the counts. Map-only JVM
    regexp work; patterns live in one table (PII_PATTERNS) rendered into
    both lanes, restricted to the Java-RE2-common regex subset."""
    from .text.analysis import redact_pii

    docs = _t(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@ex.com via https://ex.org/d/"), F.col("doc_id").cast("string"),
        F.lit(" or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    r = redact_pii(enriched)
    return docs.select(
        "doc_id",
        r["n_email"].cast("int").alias("n_email"),
        r["n_url"].cast("int").alias("n_url"),
        r["n_phone"].cast("int").alias("n_phone"),
        F.length(r["redacted"]).cast("long").alias("redacted_len"),
        F.md5(r["redacted"]).alias("redacted_fp"),
    )


@register(
    "chunk_boilerplate_ratio",
    """
    WITH toks_t AS (
      SELECT doc_id,
             CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                  ELSE list_transform(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                      t -> lower(t)) END AS tks
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(tks[(i*8+1):(i*8+8)], ' ')) AS chunk_fp
      FROM toks_t, UNNEST(range(CAST(ceil(len(tks) / 8.0) AS BIGINT))) AS t(i)
    ),
    rep AS (
      SELECT chunk_fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk_fp
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN r.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
           round(avg(CASE WHEN r.nd > 1 THEN 1.0 ELSE 0.0 END), 4) AS boilerplate_ratio
    FROM ch c JOIN rep r USING (chunk_fp)
    GROUP BY c.doc_id
    """,
    tags=("text", "X2", "dedup"),
)
def chunk_boilerplate_ratio(spark, sf_dir):
    """Segment-level corpus dedup signal (text/analysis.chunk_boilerplate):
    documents split into non-overlapping 8-token chunks, chunks
    fingerprinted, and each doc scored by the fraction of its chunks that
    recur in OTHER docs — the CCNet/RefinedWeb-style boilerplate-removal
    stage, which whole-document dedup cannot see. The shuffle carries
    8-byte xxhash64 chunk fingerprints, never text; the chunk relation is cached
    across its two consumers and the repeat-count side is pre-filtered to
    nd > 1 so the join-back builds against only the repeated
    fingerprints (broadcastable at realistic dup rates) — scales as the
    corpus' chunk count regardless of doc sizes."""
    from .text.analysis import chunk_boilerplate

    docs = _t(spark, sf_dir, "documents")
    out = chunk_boilerplate(docs, chunk_tokens=8)
    return out.select(
        "doc_id",
        "n_chunks",
        "n_repeated",
        pround("repeated_ratio", 4).alias("boilerplate_ratio"),
    )


@register(
    "quality_gate_summary",
    f"""
    WITH t AS (
      SELECT doc_id,
             {_TOKS.replace("text", "coalesce(text, '')")} AS toks,
             coalesce(text, '') AS txt
      FROM documents
    ),
    feats AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(len(list_filter(toks,
                 x -> x IN ({stopwords_sql_list()}))) AS DOUBLE)
               / nullif(len(toks), 0) AS stop_ratio
      FROM t
    ),
    gated AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens < 25 THEN 'too_short'
                  WHEN n_tokens > 90 THEN 'too_long'
                  WHEN coalesce(stop_ratio, 0) < 0.02 THEN 'low_stopword'
                  ELSE 'pass' END AS outcome
      FROM feats
    )
    SELECT outcome,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens
    FROM gated GROUP BY outcome
    """,
    tags=("text", "X4", "quality-gate"),
)
def quality_gate_summary(spark, sf_dir):
    """Composite quality gate — the keep/drop filter stage every
    pretraining pipeline runs over its corpus (Gopher-rule shape):
    per-doc signals (token count, stopword ratio) evaluated against
    thresholds with first-failing-rule attribution, rolled up to docs
    per outcome. One map-side projection + one small aggregate; adding
    rules extends the CASE, not the plan. Signals come from
    text/analysis.quality_features — the same expressions
    doc_quality_features exposes raw."""
    from .text.analysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    feats = docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stop_ratio"),
    )
    outcome = (
        F.when(F.col("n_tokens") < 25, "too_short")
        .when(F.col("n_tokens") > 90, "too_long")
        .when(F.coalesce(F.col("stop_ratio"), F.lit(0.0)) < 0.02, "low_stopword")
        .otherwise("pass")
    )
    return (
        feats.withColumn("outcome", outcome)
        .groupBy("outcome")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_tokens"
            ),
        )
    )


def longest_wins_key():
    """Sortable scalar encoding the (n_chars DESC, id ASC) survivor
    preference in one max_by key, identical on both engines (DuckDB
    arg_max rejects struct ordering keys): n_chars major, inverted id
    minor. Order-preserving only while n_chars * 1e10 stays inside
    int64 (n_chars < ~9.2e8) and ids fit the inverted-minor term
    (id <= 9 999 999 999); outside that domain it would silently invert
    the survivor preference, so the bounds raise LOUDLY — at a wider
    domain, re-derive the constants from the corpus max. Shared by
    cluster_survivor_selection and post_dedup_mixture_rebalance."""
    in_domain = (
        (F.col("n_chars") >= 0) & (F.col("n_chars") < F.lit(900_000_000))
        & (F.col("id") >= 0) & (F.col("id") <= F.lit(9_999_999_999))
    )
    packed = F.col("n_chars") * F.lit(10_000_000_000) + (
        F.lit(9_999_999_999) - F.col("id")
    )
    return F.when(in_domain, packed).otherwise(
        F.raise_error(
            F.lit("longest_wins_key: n_chars/doc_id outside the packed "
                  "keep_key domain (n_chars < 9e8, id <= 9 999 999 999)"
                  " — survivor preference would silently invert")
        ).cast("long")
    )


def _removal_ctes() -> str:
    """Oracle CTE chain ``pairs → edges → cc → labeled → members →
    survivors → removed`` (minhash pair relation, recursive-closure
    components, longest-wins survivor policy, non-survivor removal
    set). Requires a ``WITH RECURSIVE`` prefix at the call site. Shared
    verbatim by the dedup compositions' oracles
    (post_dedup_mixture_rebalance, dedup_dsir_curation_pipeline,
    dedup_effect_on_heldout_lm) — one copy, one place to audit."""
    return f"""pairs AS (
      SELECT id_a, id_b FROM ({_minhash_oracle().strip()})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    cc AS (
      SELECT id, id AS comp FROM nodes
      UNION
      SELECT e.b AS id, c.comp FROM cc c JOIN edges e ON e.a = c.id
    ),
    labeled AS (SELECT id, min(comp) AS component FROM cc GROUP BY id),
    members AS (
      SELECT l.component, l.id, d.n_chars,
             d.n_chars * 10000000000 + (9999999999 - l.id) AS keep_key
      FROM labeled l JOIN documents d ON l.id = d.doc_id
    ),
    survivors AS (
      SELECT component, arg_max(id, keep_key) AS survivor_id
      FROM members GROUP BY component
    ),
    removed AS (
      SELECT m.id FROM members m
      JOIN survivors s ON m.component = s.component
      WHERE m.id <> s.survivor_id
    )"""


#: Memo for `nonsurvivor_removed_ids` (r9 verdict #7): five registered
#: compositions (published pipeline, budgeted manifest, soft dedup,
#: dedup→LM effect, dedup→DSIR) each recompute the SAME removal closure
#: — LSH pairs plus the checkpointed CC loop, the dominant constant of
#: the whole composition family (~190 s of the ×100 suite). The closure
#: is cached per corpus version (plan hash plus input-file stat, see
#: io/cache.py), so a rewritten corpus misses and replaces the entry.
#: Values are eagerly localCheckpointed one-column id relations
#: (dup-rate-bounded, slim), the bm25 persisted-slim-cache precedent.
_REMOVED_IDS_MEMO = VersionCache("removed_ids", 4)

#: Sibling memo one level DOWN the same closure (r11 optimization): the
#: near-dup cluster LABELS relation (id, component) — the LSH pair pass
#: plus the checkpointed CC loop, shared verbatim by `near_dup_clusters`,
#: `cluster_survivor_selection`, `soft_dedup_effective_tokens` AND the
#: removal closure above (which derives its survivor election from it).
#: Same keying as `_REMOVED_IDS_MEMO`; values are slim two-long-column
#: checkpoints bounded by the clustered-doc count (dup-rate-bounded,
#: never corpus-sized).
_CLUSTER_LABELS_MEMO = VersionCache("cluster_labels", 4)


def clear_removed_ids_memo() -> None:
    """Release every memoized removal-closure checkpoint (tests, and the
    legacy bench's cold-run timings)."""
    from .operators.ranks import release_rank_cache

    _REMOVED_IDS_MEMO.clear(release_rank_cache)
    _CLUSTER_LABELS_MEMO.clear(release_rank_cache)


def near_dup_cluster_labels(docs):
    """Near-dup cluster labels ``(id, component)`` for ``docs`` under the
    production MinHash config — the LSH pair relation (shingle cache
    shared across its three plan references via ``persist=True``; the
    result is eagerly checkpointed and the cache scope-released inside
    the builder) fed through min-label connected components. Memoized
    per (session, corpus version) exactly like the removal closure —
    the four cluster-consuming queries differ only in the aggregate they
    run over this relation."""
    from .text.clusters import connected_components
    from .text.dedup import minhash_near_dup_pairs

    def _compute():
        pairs = minhash_near_dup_pairs(
            docs, num_hashes=_NUM_HASHES, bands=_BANDS, shingle_n=3,
            jaccard_threshold=_JACCARD_T, persist=True,
        )
        return connected_components(pairs).localCheckpoint(eager=True)

    return _CLUSTER_LABELS_MEMO.get_or_compute(
        docs.sparkSession, relation_version(docs), _compute
    )


def nonsurvivor_removed_ids(docs):
    """Spark lane of :func:`_removal_ctes`: the dedup removal set as a
    one-column ``id`` relation (near-dup cluster members that lost the
    longest-wins survivor election). Pairs are LSH-sized, CC is the
    checkpointed min-label loop over the pair-bounded node set, and the
    survivor election is one component-keyed aggregate — everything is
    dup-rate-bounded, nothing corpus-sized. Shared by the dedup
    compositions (same call sites as the oracle fragment); repeat calls
    on the same corpus return the memoized checkpointed relation (see
    `_REMOVED_IDS_MEMO`). r11: the pair+CC stage is itself the memoized
    :func:`near_dup_cluster_labels` relation, so a session that already
    clustered this corpus pays only the survivor election here."""

    def _compute():
        cc = near_dup_cluster_labels(docs)
        members = cc.join(
            docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
        )
        survivors = members.groupBy("component").agg(
            F.max_by("id", longest_wins_key()).alias("survivor_id")
        )
        return (
            members.join(survivors, "component")
            .filter(F.col("id") != F.col("survivor_id"))
            .select("id")
            .localCheckpoint(eager=True)
        )

    return _REMOVED_IDS_MEMO.get_or_compute(
        docs.sparkSession, relation_version(docs), _compute
    )


@register(
    "cluster_survivor_selection",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_oracle().strip()})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    cc AS (
      SELECT id, id AS comp FROM nodes
      UNION
      SELECT e.b AS id, c.comp FROM cc c JOIN edges e ON e.a = c.id
    ),
    labeled AS (SELECT id, min(comp) AS component FROM cc GROUP BY id),
    members AS (
      SELECT l.component, l.id, d.n_chars,
             d.n_chars * 10000000000 + (9999999999 - l.id) AS keep_key
      FROM labeled l JOIN documents d ON l.id = d.doc_id
    )
    SELECT component,
           arg_max(id, keep_key) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(n_chars) - arg_max(n_chars, keep_key) AS BIGINT)
             AS removed_chars
    FROM members GROUP BY component
    """,
    tags=("text", "X2", "dedup", "clusters", "policy"),
)
def cluster_survivor_selection(spark, sf_dir):
    """Quality-aware dedup survivor policy: within each near-dup cluster
    keep the LONGEST document (ties → smallest id) instead of the
    blind min-id convention — the curation-grade keep rule (RefinedWeb
    keeps the longest/cleanest member). Cluster membership comes from
    the same label-propagation components as near_dup_clusters; the
    policy is one max_by over (n_chars, -id) after a doc-metadata join.
    Reports per cluster: survivor, member count, and the char volume
    the removal frees. r11: clusters come from the memoized
    :func:`near_dup_cluster_labels` relation."""
    docs = _t(spark, sf_dir, "documents")
    cc = near_dup_cluster_labels(docs)
    members = cc.join(docs.select(F.col("doc_id").alias("id"), "n_chars"), "id")
    keep_key = longest_wins_key()  # (n_chars DESC, id ASC), domain-guarded
    return members.groupBy("component").agg(
        F.max_by("id", keep_key).alias("survivor_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.sum("n_chars") - F.max_by("n_chars", keep_key)).cast("long").alias(
            "removed_chars"
        ),
    )


@register(
    "vocabulary_growth_by_source",
    f"""
    WITH toks_t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    flat AS (SELECT source, unnest(toks) AS tok FROM toks_t)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size,
           round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6)
             AS type_token_ratio
    FROM flat GROUP BY source
    """,
    tags=("text", "X4", "stats"),
)
def vocabulary_growth_by_source(spark, sf_dir):
    """Vocabulary statistics per source — token volume, distinct-term
    vocabulary, type-token ratio (the Heaps-law inputs a curation
    dashboard tracks to spot template/boilerplate sources: low TTR at
    high volume = repetitive text). Explode → one aggregate with a
    distinct-count expand; the scale path for unbounded vocabularies is
    approx_count_distinct (corpus_sketch_profile's HLL lane)."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    flat = docs.select(
        "source", F.explode(tokenize(F.lower(F.col("text")))).alias("tok")
    )
    return flat.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("vocab_size"),
        pround(F.countDistinct("tok").cast("double") / F.count(F.lit(1)), 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "zipf_slope_by_source",
    f"""
    WITH toks_t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    flat AS (SELECT source, unnest(toks) AS tok FROM toks_t),
    cnt AS (SELECT source, tok, count(*) AS c FROM flat GROUP BY source, tok),
    rk AS (
      SELECT source, c,
             row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS r
      FROM cnt
    ),
    top AS (
      SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      FROM rk WHERE r <= 100
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / nullif(count(*) * sum(x * x) - sum(x) * sum(x), 0),
                 4) AS zipf_slope
    FROM top GROUP BY source
    """,
    tags=("text", "X4", "stats", "quality"),
)
def zipf_slope_by_source(spark, sf_dir):
    """Zipf-law fit per source: least-squares slope of ln(frequency) vs
    ln(rank) over each source's top-100 terms. Natural text sits near
    slope −1; templated or machine-generated feeds flatten (repetitive
    head) or steepen (boilerplate-dominated) — the corpus-quality
    diagnostic that reads distribution SHAPE where
    vocabulary_growth_by_source reads volume.

    Scale shape: occurrences collapse to the vocabulary-sized
    (source, term) count relation with map-side combine before any
    exchange; ranking is a per-source window over that vocab relation
    (never occurrences), and the regression runs on ≤100 points per
    source with the closed-form sums — no ML stage, no collect. At
    extreme per-source vocabularies the rank window would pre-prune
    with a frequency threshold (only the top-100 can matter) before
    sorting."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source", F.explode(tokenize(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = cnt.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.col("c").desc(), "tok")
        ),
    ).filter(F.col("r") <= 100)
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    n = F.count(F.lit(1)).cast("double")
    return (
        rk.select("source", x.alias("x"), y.alias("y"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            pround(
                (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
                / F.nullif(
                    n * F.sum(F.col("x") * F.col("x"))
                    - F.sum("x") * F.sum("x"),
                    F.lit(0.0),
                ),
                4,
            ).alias("zipf_slope"),
        )
    )


@register(
    "bm25_keyword_search",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM toks_t),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, w FROM
        (SELECT doc_id, unnest(toks) AS w FROM toks_t)
      WHERE w IN ('join', 'filter', 'vector')
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM hits GROUP BY doc_id, w),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
    SELECT t.doc_id,
           CAST(count(*) AS INT) AS n_terms_hit,
           round(sum(
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (t.tf * 2.2)
             / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
           ), 6) AS bm25
    FROM tf t
    JOIN df d USING (w)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY bm25 DESC, t.doc_id LIMIT 20
    """,
    tags=("text", "X4", "retrieval", "bm25", "top-k"),
)
def bm25_keyword_search(spark, sf_dir, _lazy=False):
    """BM25 keyword retrieval (k1=1.2, b=0.75, Lucene idf) for a fixed
    query term set — the lexical half of a retrieval stack next to the
    kNN/ANN dense half (X3). For a FIXED small query vocabulary the
    right plan has NO token explode at all: per-term tf is a map-only
    ``size(filter(tokens, = term))`` array fold computed alongside dl in
    one codegen'd projection — the corpus is scanned once, zero
    token-level rows exist, and the only aggregates are the single-row
    corpus stats and per-term df partials folded from the same
    projection (measured 1.68 s → ~0.6 s at the ×10 sweep vs the
    explode-then-filter form). r6 measurements (verdict #4): a single
    m-term ``aggregate`` fold was tried and LOST to the m per-term
    ``size(filter(...))`` folds (0.43 s vs 0.36 s at ×10 — the struct
    accumulator + when-chain per element outweighs m extra cheap
    traversals at m=3), so the per-term form stays; the real double
    cost was the corpus-stats broadcast subtree re-tokenizing the
    corpus, now a bounded one-row driver literal instead. The
    per-(doc,term) score then unpivots KB-scale term columns; top-20
    via TakeOrderedAndProject with a doc_id tiebreak. (The
    unbounded-vocabulary case is `tfidf_top_terms`' explode
    pipeline.)"""
    from .text.analysis import tokenize

    terms = ("join", "filter", "vector")
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize(F.lower(F.col("text"))).alias("toks")
    )

    def _tf(word):
        # closure factory: a `lambda t, w=w:` default-arg binding would
        # make the lambda arity-2, which F.filter interprets as
        # (element, index) — silently comparing tokens to positions
        # (the exact bug the r6 banding sweep exposed in
        # minhash_signature). A single m-term `aggregate` fold with a
        # struct accumulator was ALSO measured (r5 verdict #4): 0.43 s
        # vs 0.36 s for these m per-term folds at the ×10 sweep — the
        # struct rebuild + when-chain per element costs more than m
        # cheap equality-only traversals at m=3.
        return F.size(F.filter("toks", lambda t: t == word))

    base = toks.select(
        "doc_id", F.size("toks").alias("dl"),
        *[_tf(w).alias(f"tf_{i}") for i, w in enumerate(terms)],
    ).persist()
    # The slim (doc_id, dl, tf…) relation feeds BOTH the corpus-stats
    # aggregate and the scoring pass. The stats side is ONE row; pulling
    # it to the driver and re-entering as literals is operationally the
    # broadcast-cross-join idiom minus a duplicated plan subtree (the
    # broadcast build job re-tokenized the corpus — tokenize is ~80% of
    # this query at the ×10 sweep). r8: `persist()` on the 5-numbers/doc
    # relation lets the scoring pass read the columnar cache instead of
    # re-tokenizing — measured 2.21 s → 1.24 s same-conditions at ×10
    # (the r6 localCheckpoint attempt was slower, 0.98 vs 0.30 s,
    # because checkpointing serializes ROWS; the columnar cache keeps
    # the codegen'd scan). Cache is call-scoped: the 20-row result is
    # eagerly checkpointed below, then the cache is released. The
    # collect is bounded by construction: exactly one row, four doubles.
    srow = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).first()
    n_docs, avgdl = float(srow["n_docs"]), float(srow["avgdl"])
    scored = base
    per_term = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        dfi = float(srow[f"df_{i}"])
        idf = F.lit(math.log((n_docs - dfi + 0.5) / (dfi + 0.5) + 1.0))
        per_term.append(
            F.when(
                tf > 0,
                idf
                * (tf * 2.2)
                / (tf + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(avgdl))),
            ).otherwise(0.0)
        )
    hit = sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0) for i in range(len(terms)))
    total = per_term[0]
    for t in per_term[1:]:
        total = total + t
    out_lazy = (
        scored.filter(hit > 0)
        .select(
            "doc_id",
            hit.cast("int").alias("n_terms_hit"),
            pround(total, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )
    if _lazy:
        # plan-test hook: hand the caller BOTH the lazy scoring plan and
        # the persisted base so it can unpersist after reading the plan
        # (ADVICE r8: returning only the df leaked the cache for the
        # session lifetime)
        return out_lazy, base
    out = out_lazy.localCheckpoint(eager=True)  # 20 rows — executes the
    base.unpersist()  # scoring pass so the cache can release now
    return out


@register(
    "levenshtein_name_near_dups",
    """
    SELECT a.p_brand,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand
               AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
    GROUP BY a.p_brand, dist
    """,
    tags=("text", "X2", "near-dup", "edit-distance", "blocked"),
)
def levenshtein_name_near_dups(spark, sf_dir):
    """Edit-distance near-duplicate detection over short strings (part
    names) — the entity-resolution complement to the token-level X2
    family (MinHash/Jaccard need tokens; catalog titles and entity
    names need character-level distance). Pair space is BLOCKED by
    brand (the blocked-Jaccard discipline): the self-join is an
    equi-join on the block key with `a < b`, per-block-quadratic with a
    bounded constant, never corpus-quadratic. Both engines run the
    classic Wagner-Fischer DP so the integer distances agree exactly;
    dist 0 (identical names) is excluded — that is exact dedup's job
    (X1). Output: pair counts per (brand, distance) band."""
    pa = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = pa.alias("a")
    b = pa.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(F.col("a.p_brand").alias("p_brand"), dist.alias("dist"))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= 4))
        .groupBy("p_brand", F.col("dist").cast("int").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "bigram_collocations_pmi",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    uni AS (
      SELECT w, count(*) AS c FROM
        (SELECT unnest(toks) AS w FROM toks_t) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
    bg AS (
      SELECT w1, w2, count(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
               unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
        FROM toks_t
      ) GROUP BY w1, w2
    )
    SELECT b.w1, b.w2, CAST(b.c AS BIGINT) AS n_pair,
           round(ln((b.c / t.n) / ((u1.c / t.n) * (u2.c / t.n))), 6) AS pmi
    FROM bg b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN tot t
    WHERE b.c >= 5
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT 20
    """,
    tags=("text", "X4", "collocation", "pmi", "top-k"),
)
def bigram_collocations_pmi(spark, sf_dir):
    """Collocation mining: top adjacent-token pairs by pointwise mutual
    information ln(P(w1w2)/(P(w1)P(w2))) with a min-count support floor
    — the lexicographic phrase detector (vocabulary induction for
    tokenizers, multi-word-entity discovery). Bigrams come from the
    map-side indexed array transform (the bigram_logprob_score shape);
    unigram counts, the corpus total, and the support-filtered bigram
    relation are all vocabulary-bounded, so both scoring joins AQE-
    broadcast. The support floor (c ≥ 5) is applied BEFORE the joins —
    the relation that ranks is a small fraction of the bigram
    vocabulary. Deterministic (pmi, w1, w2) top-20."""
    from .text.analysis import tokenize

    from .io.readers import spread

    docs = _t(spark, sf_dir, "documents")
    # spread() (r12): see tfidf_top_terms — scan-spreading only
    toks = spread(
        docs.select("doc_id", tokenize(F.lower(F.col("text"))).alias("toks")),
        "doc_id",
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    idx = F.sequence(F.lit(0), F.size("toks") - 2)
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("toks", i + 1).alias("w1"),
                        F.element_at("toks", i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c") / F.col("n"))
        / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))
    )
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n_pair"),
            pround(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@register(
    "phrase_search_hash_join",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hits AS (
      SELECT doc_id,
             len(list_filter(range(1, len(toks)),
                             i -> toks[i] = 'hash' AND toks[i+1] = 'join'))
               AS n_occurrences,
             len(toks) AS dl
      FROM toks_t
    )
    SELECT doc_id, CAST(n_occurrences AS INT) AS n_occurrences,
           CAST(dl AS INT) AS dl
    FROM hits WHERE n_occurrences > 0
    ORDER BY n_occurrences DESC, doc_id
    """,
    tags=("text", "X4", "retrieval", "phrase-search"),
)
def phrase_search_hash_join(spark, sf_dir):
    """Exact PHRASE search — the positional complement to BM25's
    bag-of-words scoring: documents containing the adjacent-token
    phrase "hash join", with occurrence counts. Position adjacency is
    an indexed array fold over the token array (the bigram-transform
    machinery), entirely map-side: no positional inverted index needs
    materializing when the phrase is known at plan time — the corpus is
    scanned once with a codegen'd projection and only matching docs
    survive to the (tiny) ordered output. (The ad-hoc-phrase case at
    100 TB builds the positional index once — `doc_chunks`' layout —
    and joins positions; this is the planned-query fast path.)"""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize(F.lower(F.col("text"))).alias("toks")
    )
    # Guard the degenerate docs: Spark's sequence(start, stop) with
    # start > stop steps DOWNWARD, so a 0/1-token array would yield
    # [1, 0] and the fold would touch index 0 ("SQL array indices start
    # at 1" runtime error). DuckDB's range(1, n) is simply empty there.
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    n_occ = F.size(
        F.filter(
            idx,
            lambda i: (F.element_at("toks", i) == "hash")
            & (F.element_at("toks", i + 1) == "join"),
        )
    )
    return (
        toks.select(
            "doc_id",
            n_occ.cast("int").alias("n_occurrences"),
            F.size("toks").cast("int").alias("dl"),
        )
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
    )


@register(
    "verbatim_overlap_pairs",
    f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    wins AS (
      SELECT DISTINCT doc_id, w_fp FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 6),
                 i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                    toks[i+3], toks[i+4], toks[i+5],
                                    toks[i+6], toks[i+7])))) AS w_fp
        FROM toks_t WHERE len(toks) >= 8
      )
    ),
    grp AS (
      SELECT w_fp, list_sort(list(doc_id)) AS ids
      FROM wins GROUP BY w_fp
      HAVING count(*) BETWEEN 2 AND 10
    ),
    pairs AS (
      SELECT a AS id_a, b AS id_b, count(*) AS n_shared_windows
      FROM (
        SELECT unnest(ids) AS a, ids FROM grp
      ) g, LATERAL (SELECT unnest(list_filter(ids, x -> x > a)) AS b) t
      GROUP BY a, b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(n_shared_windows AS BIGINT) AS n_shared_windows
    FROM pairs WHERE n_shared_windows >= 3
    ORDER BY n_shared_windows DESC, id_a, id_b LIMIT 50
    """,
    tags=("text", "X2", "dedup", "verbatim", "sliding-window"),
)
def verbatim_overlap_pairs(spark, sf_dir):
    """ANY-ALIGNMENT verbatim overlap detection — the sliding-window
    form of substring dedup (the suffix-array "exact substring"
    operator of LLM data curation, expressed shuffle-bounded): every
    8-token window fingerprints to 16 bytes, windows shared by 2-10
    docs expand to doc pairs, pairs with ≥3 shared windows rank.
    Contrast `chunk_boilerplate_ratio` (disjoint chunks — cheap, but
    misses overlaps that straddle chunk edges): sliding windows catch
    every alignment at ~chunk_size× the fingerprint volume, the
    documented cost of the stronger guarantee. Discipline as always:
    the shuffle carries 8-byte xxhash64 fingerprints, never text (the
    fp is a join key that never surfaces in output, so the engine is
    free to use a long where the oracle keeps md5 — same equivalence
    classes, 4× narrower rows through the hottest explode); the pair
    expansion is bounded per fingerprint (the 2-10 band — windows
    shared by MORE docs are boilerplate, `chunk_boilerplate_ratio`'s
    business, and would blow the pair space quadratically)."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        docs.select("doc_id", tokenize(F.lower(F.col("text"))).alias("toks"))
        .filter(F.size("toks") >= 8)
    )
    # Window fp = xxhash64 over the 8 tokens DIRECTLY (seed-chained,
    # order-sensitive, injective-modulo-2^-64 on the token tuple): no
    # concat_ws string allocation per window, and the whole explode +
    # hash pipeline stays inside one WholeStageCodegen span (an
    # array-HOF formulation was measured SLOWER — higher-order
    # functions evaluate interpreted, outside codegen).
    idx = F.sequence(F.lit(1), F.size("toks") - 7)
    win = F.xxhash64(
        *[F.element_at("toks", F.col("i") + k) for k in range(8)]
    )
    # ONE shuffle serves dedup AND grouping: fingerprints are ~99%
    # unique per doc, so distinct-then-groupBy ran two full-size
    # shuffles back to back. HashPartitioning(w_fp) satisfies the
    # clustering requirement of the (doc_id, w_fp) distinct AND the
    # w_fp groupBy, so after one repartition both run partition-local.
    wins = (
        toks.select("doc_id", "toks", F.explode(idx).alias("i"))
        .select("doc_id", win.alias("w_fp"))
        .repartition(n_shuffle, "w_fp")
        .distinct()
    )
    grp = (
        wins.groupBy("w_fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= 10))
    )
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter("ids", lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grp.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.id_a").cast("bigint").alias("id_a"),
            F.col("p.id_b").cast("bigint").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
        .filter(F.col("n_shared_windows") >= 3)
        .orderBy(F.col("n_shared_windows").desc(), "id_a", "id_b")
        .limit(50)
    )


@register(
    "dup_cluster_size_histogram",
    """
    WITH clusters AS (
      SELECT count(*) AS sz
      FROM documents
      GROUP BY md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
    )
    SELECT CAST(sz AS INT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
    FROM clusters GROUP BY sz
    """,
    tags=("text", "X1", "dedup", "histogram"),
)
def dup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution — the curation planning
    readout BEHIND `exact_dedup_docs`: how many exact-duplicate
    clusters of each size exist, how many documents they hold, and how
    many rows dedup would remove (the storage/compute saving estimate
    you quote before running the pipeline). Two aggregation levels,
    both on 16-byte fingerprints; the second groups ~tens of distinct
    sizes."""
    from .text.analysis import fingerprint

    docs = _t(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        fingerprint(F.col("text")).alias("fp")
    ).agg(F.count(F.lit(1)).alias("sz"))
    return clusters.groupBy(F.col("sz").cast("int").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training + application (r5 groundwork -> r6 registration)
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 12
_BPE_MAX_VOCAB = 20000


def _bpe_apply_layer(k: int, a_expr: str, b_expr: str, s: str) -> str:
    """One merge-rule application layer over a symbol-sequence relation
    ``{s}{k}(w, pos, sym)`` -> ``{s}{k+1}``: flag (a,b) adjacencies,
    resolve overlapping occurrences left-to-right via run-start parity
    (within a maximal run of consecutive matches, every other position
    starting at the run head merges — exactly the engine's scan-with-
    skip), then drop consumed rows and renumber. MATERIALIZED so the
    layer chain stays linear (DuckDB inlines CTEs by default; an
    inlined 12-layer chain re-expands exponentially)."""
    return f"""
    {s}m{k} AS (
      SELECT w, pos, sym,
             coalesce(sym = {a_expr}
                      AND lead(sym) OVER (PARTITION BY w ORDER BY pos) = {b_expr},
                      FALSE) AS mt
      FROM {s}{k}
    ),
    {s}r{k} AS (
      SELECT w, pos, sym, mt,
             mt AND ((pos - coalesce(max(CASE WHEN NOT mt THEN pos END) OVER (
                 PARTITION BY w ORDER BY pos ROWS UNBOUNDED PRECEDING), 0)) % 2 = 1) AS sel
      FROM {s}m{k}
    ),
    {s}{k + 1} AS MATERIALIZED (
      SELECT w, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN sel THEN sym || nsym ELSE sym END AS sym
      FROM (
        SELECT w, pos, sym, sel,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym,
               coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos), FALSE) AS consumed
        FROM {s}r{k}
      ) WHERE NOT consumed
    )"""


def _bpe_train_layer(k: int) -> str:
    """Training step k: weighted pair counts over the current vocabulary
    state, argmax with (count DESC, pair lexicographic) ties — exactly
    fit_bpe's selection — then the apply layer driven by the selected
    rule as scalar subqueries."""
    return f"""
    p{k} AS (
      SELECT s.sym AS a, lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) AS b, v.n
      FROM s{k} s JOIN vocab v ON v.w = s.w
    ),
    best{k} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT a, b, sum(n) AS cnt FROM p{k} WHERE b IS NOT NULL GROUP BY a, b
      ) ORDER BY cnt DESC, a, b LIMIT 1
    ),""" + _bpe_apply_layer(k, f"(SELECT a FROM best{k})", f"(SELECT b FROM best{k})", "s")


def _bpe_training_ctes() -> str:
    """Shared oracle preamble: tokenize the corpus (identical semantics
    to text/bpe.word_frequencies), build the frequency-bounded
    vocabulary, split to characters + the </w> sentinel, and run the
    full merge-selection loop as N chained layers."""
    layers = ",".join(_bpe_train_layer(k) for k in range(_BPE_N_MERGES))
    return f"""
    toks AS MATERIALIZED (
      SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                      '[^a-z0-9'']+'),
                    t -> t <> '')) AS w
      FROM documents
    ),
    vocab AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w
      ORDER BY n DESC, w LIMIT {_BPE_MAX_VOCAB}
    ),
    s0 AS MATERIALIZED (
      SELECT w, unnest(range(1, len(cs) + 1)) AS pos,
             cs[unnest(range(1, len(cs) + 1))] AS sym
      FROM (SELECT w, list_concat(regexp_extract_all(w, '.'), ['</w>']) AS cs
            FROM vocab)
    ),
    {layers}"""


def _bpe_fit_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rk, (SELECT a FROM best{k}) AS lhs, "
        f"(SELECT b FROM best{k}) AS rhs, (SELECT a || b FROM best{k}) AS merged"
        for k in range(_BPE_N_MERGES)
    )
    return f"WITH {_bpe_training_ctes()}\n    {rows}"


def _bpe_doc_tokens_ctes() -> str:
    """Training replay + a SECOND apply chain over every distinct corpus
    word (vocab truncation must not skip encoding), down to per-document
    subword counts — shared by the stats and packing oracles."""
    apply_layers = ",".join(
        _bpe_apply_layer(
            k, f"(SELECT a FROM best{k})", f"(SELECT b FROM best{k})", "a"
        )
        for k in range(_BPE_N_MERGES)
    )
    return f"""
    WITH {_bpe_training_ctes()},
    a0 AS MATERIALIZED (
      SELECT w, unnest(range(1, len(cs) + 1)) AS pos,
             cs[unnest(range(1, len(cs) + 1))] AS sym
      FROM (SELECT w, list_concat(regexp_extract_all(w, '.'), ['</w>']) AS cs
            FROM (SELECT DISTINCT w FROM toks))
    ),
    {apply_layers},
    wstats AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n_toks,
             CAST(count(*) FILTER (WHERE sym LIKE '%</w>') AS BIGINT) AS n_eow
      FROM a{_BPE_N_MERGES} GROUP BY w
    ),
    doc_tok AS (
      SELECT t.doc_id, sum(ws.n_toks) AS n_toks, sum(ws.n_eow) AS n_eow
      FROM toks t JOIN wstats ws ON ws.w = t.w GROUP BY t.doc_id
    )"""


def _bpe_stats_oracle() -> str:
    return f"""{_bpe_doc_tokens_ctes()}
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(dt.n_toks, 0)) AS BIGINT) AS total_tokens,
           CAST(sum(coalesce(dt.n_eow, 0)) AS BIGINT) AS n_word_end_tokens,
           round(CAST(sum(coalesce(dt.n_toks, 0)) AS DOUBLE) / count(*), 6)
             AS avg_tokens_per_doc
    FROM documents d LEFT JOIN doc_tok dt ON dt.doc_id = d.doc_id
    GROUP BY d.lang"""


@register(
    "bpe_learned_merges", _bpe_fit_oracle(),
    tags=("text", "X4", "tokenizer", "bpe"),
)
def bpe_learned_merges(spark, sf_dir):
    """BPE tokenizer TRAINING, fully oracle-checked (text/bpe — r5
    groundwork, registered r6): one distributed pass builds the
    frequency-bounded (word, count) vocabulary (text/bpe.
    word_frequencies — the corpus is never touched again), then the
    merge loop runs driver-side on that bounded table (ivf.fit_centroids'
    bounded-state discipline) and the learned merge table is the query
    output. The oracle INDEPENDENTLY REPLAYS TRAINING in SQL — 12
    chained merge-selection layers (weighted pair counts -> argmax with
    fit_bpe's exact count-desc/lexicographic tie -> run-parity merge
    application) — so every selected rule, not just the final
    tokenization, is hash-checked against a second engine."""
    from .text.bpe import fit_bpe, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    vocab = word_frequencies(docs, max_vocab=_BPE_MAX_VOCAB)
    merges = fit_bpe(vocab, n_merges=_BPE_N_MERGES)
    return spark.createDataFrame(
        [(k, a, b, a + b) for k, (a, b) in enumerate(merges)],
        "rk int, lhs string, rhs string, merged string",
    )


@register(
    "bpe_token_stats", _bpe_stats_oracle(),
    tags=("text", "X4", "tokenizer", "bpe"),
)
def bpe_token_stats(spark, sf_dir):
    """End-to-end BPE pipeline: train on the corpus (bpe_learned_merges'
    fit), ENCODE every document with the learned rules (text/bpe.
    apply_bpe, ordered mode — sequential rank-order application, which
    replays training segmentation verbatim and is therefore
    SQL-replayable), and report per-language subword statistics. The
    encode is one map-only Arrow pass with per-batch word memoization
    (cost tracks distinct words, not token count). The oracle replays
    training AND re-encodes every distinct corpus word through the same
    12 rules in SQL, then aggregates — tokenizer train + apply both
    pass the differential gate.

    Scale role (r10, the banding-sweep precedent): this full-corpus
    form is the documented training-cost AUDIT — its cost tracks corpus
    vocabulary by construction (r9 measured exponent 1.07 at the
    ×10→×100 step; r10 HEAD reads 0.75 — the difference is the replica
    bijections inflating vocabulary linearly where real corpora follow
    Heaps' law). The canonical 100 TB lane is
    `bpe_sampled_token_stats`: constant-size deterministic training
    slice, identical full-corpus encode — ×100 0.31× vs DuckDB,
    exponent 0.33, same oracle rigor."""
    from .text.bpe import apply_bpe, fit_bpe, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    vocab = word_frequencies(docs, max_vocab=_BPE_MAX_VOCAB)
    merges = fit_bpe(vocab, n_merges=_BPE_N_MERGES)
    enc = apply_bpe(docs, merges, ordered=True)
    return enc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("bpe_tokens")).cast("long").alias("total_tokens"),
        F.sum(
            F.size(F.filter("bpe_tokens", lambda t: t.endswith("</w>")))
        ).cast("long").alias("n_word_end_tokens"),
        pround(
            F.sum(F.size("bpe_tokens")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_tokens_per_doc"),
    )


#: bounded training slice for the sampled word-level BPE regime (the
#: production tokenizer shape: TRAIN on a constant-size deterministic
#: sample, ENCODE the whole corpus)
_BPE_STATS_SAMPLE_DOCS = 100


def _bpe_sampled_stats_oracle() -> str:
    """Training replay over the md5-deterministic ``_BPE_STATS_SAMPLE_DOCS``
    slice, apply chain + stats over the FULL corpus — the sampled twin
    of `_bpe_stats_oracle` (new CTE names; the shared layer generators
    are reused as-is since they only reference vocab/s{{k}}/a{{k}})."""
    layers = ",".join(_bpe_train_layer(k) for k in range(_BPE_N_MERGES))
    apply_layers = ",".join(
        _bpe_apply_layer(
            k, f"(SELECT a FROM best{k})", f"(SELECT b FROM best{k})", "a"
        )
        for k in range(_BPE_N_MERGES)
    )
    return f"""
    WITH strain AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {_BPE_STATS_SAMPLE_DOCS}
    ),
    toks_tr AS MATERIALIZED (
      SELECT unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                      '[^a-z0-9'']+'),
                    t -> t <> '')) AS w
      FROM strain
    ),
    vocab AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks_tr GROUP BY w
      ORDER BY n DESC, w LIMIT {_BPE_MAX_VOCAB}
    ),
    s0 AS MATERIALIZED (
      SELECT w, unnest(range(1, len(cs) + 1)) AS pos,
             cs[unnest(range(1, len(cs) + 1))] AS sym
      FROM (SELECT w, list_concat(regexp_extract_all(w, '.'), ['</w>']) AS cs
            FROM vocab)
    ),
    {layers},
    toks AS MATERIALIZED (
      SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                      '[^a-z0-9'']+'),
                    t -> t <> '')) AS w
      FROM documents
    ),
    a0 AS MATERIALIZED (
      SELECT w, unnest(range(1, len(cs) + 1)) AS pos,
             cs[unnest(range(1, len(cs) + 1))] AS sym
      FROM (SELECT w, list_concat(regexp_extract_all(w, '.'), ['</w>']) AS cs
            FROM (SELECT DISTINCT w FROM toks))
    ),
    {apply_layers},
    wstats AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n_toks,
             CAST(count(*) FILTER (WHERE sym LIKE '%</w>') AS BIGINT) AS n_eow
      FROM a{_BPE_N_MERGES} GROUP BY w
    ),
    doc_tok AS (
      SELECT t.doc_id, sum(ws.n_toks) AS n_toks, sum(ws.n_eow) AS n_eow
      FROM toks t JOIN wstats ws ON ws.w = t.w GROUP BY t.doc_id
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(dt.n_toks, 0)) AS BIGINT) AS total_tokens,
           CAST(sum(coalesce(dt.n_eow, 0)) AS BIGINT) AS n_word_end_tokens,
           round(CAST(sum(coalesce(dt.n_toks, 0)) AS DOUBLE) / count(*), 6)
             AS avg_tokens_per_doc
    FROM documents d LEFT JOIN doc_tok dt ON dt.doc_id = d.doc_id
    GROUP BY d.lang"""


@register(
    "bpe_sampled_token_stats", _bpe_sampled_stats_oracle(),
    tags=("text", "X4", "tokenizer", "bpe", "sampling"),
)
def bpe_sampled_token_stats(spark, sf_dir):
    """The PRODUCTION word-level tokenizer regime: TRAIN on a bounded
    deterministic sample (the 100-doc smallest-(md5(id), id) slice —
    the fit_bpe_sequences/ivf/pq `sample_n` discipline), ENCODE the
    full corpus, report per-language subword stats. `bpe_token_stats`
    trains on everything — the right correctness exercise, but at
    100 TB nobody scans the corpus to fit a tokenizer; this registers
    the shape where training cost is CONSTANT in corpus size and only
    the map-only memoized Arrow encode scales. The oracle replays the
    sampled training AND the full-corpus apply chain, so the
    train-on-slice/apply-everywhere contract itself is value-checked
    (a slice-leak into vocab selection would hash-fail)."""
    from .text.bpe import apply_bpe, fit_bpe, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    train = docs.orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    ).limit(_BPE_STATS_SAMPLE_DOCS)
    vocab = word_frequencies(train, max_vocab=_BPE_MAX_VOCAB)
    merges = fit_bpe(vocab, n_merges=_BPE_N_MERGES)
    enc = apply_bpe(docs, merges, ordered=True)
    return enc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("bpe_tokens")).cast("long").alias("total_tokens"),
        F.sum(
            F.size(F.filter("bpe_tokens", lambda t: t.endswith("</w>")))
        ).cast("long").alias("n_word_end_tokens"),
        pround(
            F.sum(F.size("bpe_tokens")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_tokens_per_doc"),
    )


#: sequence-level (phrase) BPE depth — 256 rules is past the point where
#: the corpus's 31-word surface vocabulary saturates word-level BPE
#: (~120 char merges exhaust it), so every rule is a learned PHRASE.
_BPE_SEQ_MERGES = 256

#: tokenization shared by fit_bpe_sequences and its oracle (lowercase
#: [a-z0-9']+ words — word_frequencies' convention)
_BPE_WORDS = (
    "list_filter(regexp_split_to_array(lower(coalesce(text, '')), "
    "'[^a-z0-9'']+'), t -> t <> '')"
)


def _bpe_phrase_ctes(n: int = _BPE_SEQ_MERGES,
                     sample_docs: int | None = None) -> str:
    """Recursive-CTE training replay for sequence-level BPE.

    The chained-CTE idiom of `_bpe_training_ctes` is PLANNING-bound past
    ~64 layers (measured: 25 s at 64, 565 s at 256 — DuckDB re-optimizes
    the whole chain per layer), so this oracle folds the whole merge loop
    into ONE recursive CTE: the working table is the full (it, doc, pos,
    sym) corpus state, each step selects the (count DESC, a, b) argmax
    pair as an uncorrelated scalar subquery and applies it with the same
    run-parity window rewrite the chained layers use. The merge table is
    then re-derived OUTSIDE the recursion from the accumulated per-
    iteration states (recursive UNION ALL retains every round), by the
    identical argmax — so all ``n`` selected rules are value-checked.

    ``sample_docs`` replays `fit_bpe_sequences`' deterministic
    (md5(doc_id), doc_id) top-N training slice."""
    src = "documents"
    if sample_docs is not None:
        src = f"""(
        SELECT * FROM documents
        QUALIFY row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id)
                <= {sample_docs})"""
    return f"""
    WITH RECURSIVE st(it, doc, pos, sym) AS (
      SELECT 0, doc_id, unnest(range(1, len(w) + 1)),
             w[unnest(range(1, len(w) + 1))]
      FROM (SELECT doc_id, {_BPE_WORDS} AS w FROM {src})
      WHERE len(w) > 1
      UNION ALL
      SELECT it + 1, doc, row_number() OVER (PARTITION BY doc ORDER BY pos),
             CASE WHEN sel THEN sym || ' ' || nsym ELSE sym END
      FROM (
        SELECT it, doc, pos, sym, nsym, sel,
               coalesce(lag(sel) OVER (PARTITION BY doc ORDER BY pos),
                        FALSE) AS consumed
        FROM (
          SELECT it, doc, pos, sym, nsym,
                 mt AND ((pos - coalesce(max(CASE WHEN NOT mt THEN pos END)
                     OVER (PARTITION BY doc ORDER BY pos
                           ROWS UNBOUNDED PRECEDING), 0)) % 2 = 1) AS sel
          FROM (
            SELECT it, doc, pos, sym,
                   lead(sym) OVER (PARTITION BY doc ORDER BY pos) AS nsym,
                   coalesce((sym, lead(sym) OVER (PARTITION BY doc ORDER BY pos)) =
                            (SELECT (a, b) FROM (
                               SELECT sym AS a,
                                      lead(sym) OVER (PARTITION BY doc
                                                      ORDER BY pos) AS b
                               FROM st) p
                             WHERE b IS NOT NULL
                             GROUP BY a, b
                             ORDER BY count(*) DESC, a, b LIMIT 1),
                            FALSE) AS mt
            FROM st
          )
        )
      ) WHERE NOT consumed AND it < {n}
    ),
    pairs_by_it AS (
      SELECT it, sym AS a,
             lead(sym) OVER (PARTITION BY it, doc ORDER BY pos) AS b
      FROM st WHERE it < {n}
    ),
    ranked AS (
      SELECT it, a, b,
             row_number() OVER (PARTITION BY it
                                ORDER BY cnt DESC, a, b) AS rn
      FROM (SELECT it, a, b, count(*) AS cnt FROM pairs_by_it
            WHERE b IS NOT NULL GROUP BY it, a, b)
    ),
    rules AS (SELECT CAST(it AS INT) AS rk, a, b FROM ranked WHERE rn = 1)"""


def _bpe_phrase_oracle(n: int = _BPE_SEQ_MERGES,
                       sample_docs: int | None = None) -> str:
    return f"""{_bpe_phrase_ctes(n, sample_docs)}
    SELECT rk, a AS lhs, b AS rhs, a || ' ' || b AS merged FROM rules"""


@register(
    "bpe_phrase_merges_256", _bpe_phrase_oracle(),
    tags=("text", "X4", "tokenizer", "bpe", "distributed-fit"),
)
def bpe_phrase_merges_256(spark, sf_dir):
    """Sequence-level BPE trained by the DISTRIBUTED merge loop (r6
    verdict #6): 256 phrase-merge rules learned over each document's word
    sequence, where the training state is the corpus itself — unbounded,
    so `fit_bpe`'s bounded-vocab driver loop cannot apply. `text/bpe.
    fit_bpe_sequences` keeps the state in executors for all 256
    iterations: one map-side-combined pair-count action per rule (shuffle
    carries (a, b, count) only), merge application as a literal JVM
    string replace on the sentinel-delimited state,
    plan depth bounded by periodic localCheckpoint, and the driver holds
    nothing but the 256-row merge table returned here. The oracle replays
    the full training loop as a single recursive CTE (the chained-layer
    idiom is planning-bound past ~64 layers) and re-derives every selected
    rule from the accumulated iteration states — all 256 rules are
    value-hash-checked against the second engine."""
    from .text.bpe import fit_bpe_sequences

    docs = _t(spark, sf_dir, "documents")
    merges = fit_bpe_sequences(docs, n_merges=_BPE_SEQ_MERGES)
    return spark.createDataFrame(
        [(k, a, b, f"{a} {b}") for k, (a, b) in enumerate(merges)],
        "rk int, lhs string, rhs string, merged string",
    )


#: bounded-sample sequence-BPE training slice (r7 verdict #6): the
#: constant that bounds training input regardless of corpus size
_BPE_SAMPLE_DOCS = 256


@register(
    "bpe_phrase_merges_sampled", _bpe_phrase_oracle(sample_docs=_BPE_SAMPLE_DOCS),
    tags=("text", "X4", "tokenizer", "bpe", "distributed-fit", "sampled"),
)
def bpe_phrase_merges_sampled(spark, sf_dir):
    """Sequence-level BPE on a BOUNDED deterministic sample (r7 verdict
    #6): the production regime for tokenizer induction at corpus scale.
    `bpe_phrase_merges_256` trains on the whole corpus — honest but 256
    full corpus passes at 100 TB; real tokenizers fit on a bounded
    sample (GPT-2/SentencePiece both subsample). This variant trains the
    same 256-rule distributed loop on the ``_BPE_SAMPLE_DOCS`` documents
    with the smallest (md5(doc_id), doc_id) — a corpus-stable slice
    selected by ONE TakeOrdered pass (map-side top-N heap over 16-byte
    hashes; nothing corpus-sized moves), after which every per-merge
    pass touches a CONSTANT-size state no matter how large the corpus
    grows. The oracle replays the identical slice (QUALIFY row_number
    OVER (ORDER BY md5, id)) and the identical recursive-CTE training
    loop, so all selected rules stay value-hash-checked."""
    from .text.bpe import fit_bpe_sequences

    docs = _t(spark, sf_dir, "documents")
    merges = fit_bpe_sequences(
        docs, n_merges=_BPE_SEQ_MERGES, sample_docs=_BPE_SAMPLE_DOCS
    )
    return spark.createDataFrame(
        [(k, a, b, f"{a} {b}") for k, (a, b) in enumerate(merges)],
        "rk int, lhs string, rhs string, merged string",
    )


#: fertility evaluates under the FIRST 64 learned rules — a vocab-size
#: prefix (BPE rule tables are orderly: rank-k prefixes are themselves
#: valid tokenizers, the standard multi-vocab-size eval) — because the
#: oracle must REPLAY training, and the recursive-CTE replay's cost is
#: linear in rule count (256 rules ≈ 6-7 min in DuckDB at sf0.01;
#: 64 keeps the differential gate snappy while the 256-rule trainer
#: stays separately value-checked by bpe_phrase_merges_sampled).
_BPE_FERTILITY_MERGES = 64


def _tokenizer_fertility_oracle(n: int = _BPE_FERTILITY_MERGES,
                                sample_docs: int = _BPE_SAMPLE_DOCS) -> str:
    """Training replay (sampled slice) + a SECOND recursive CTE applying
    the learned rules to EVERY document — one replace per (iteration,
    rule), the trainer's own merge mechanism — down to per-source token
    accounting."""
    return f"""{_bpe_phrase_ctes(n, sample_docs)},
    docs_w AS (
      SELECT doc_id, source, {_BPE_WORDS} AS w FROM documents
    ),
    ap(it, doc, seq) AS (
      SELECT 0, doc_id,
             chr(2) || array_to_string(w, chr(3) || chr(2)) || chr(3)
      FROM docs_w WHERE len(w) >= 1
      UNION ALL
      SELECT ap.it + 1, ap.doc,
             replace(ap.seq,
                     chr(2) || r.a || chr(3) || chr(2) || r.b || chr(3),
                     chr(2) || r.a || ' ' || r.b || chr(3))
      FROM ap JOIN rules r ON r.rk = ap.it
      WHERE ap.it < {n}
    ),
    fin AS (
      SELECT doc, seq FROM ap
      QUALIFY row_number() OVER (PARTITION BY doc ORDER BY it DESC) = 1
    ),
    doc_stats AS (
      SELECT d.source, len(d.w) AS n_words,
             len(array_to_string(d.w, ' ')) AS n_chars,
             coalesce(len(f.seq) - len(replace(f.seq, chr(3), '')), 0)
               AS n_tokens
      FROM docs_w d LEFT JOIN fin f ON f.doc = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(sum(n_tokens) / CAST(nullif(sum(n_words), 0) AS DOUBLE), 6)
             AS fertility_tokens_per_word,
           round(sum(n_chars) / CAST(nullif(sum(n_tokens), 0) AS DOUBLE), 6)
             AS bytes_per_token
    FROM doc_stats GROUP BY source"""


@register(
    "tokenizer_fertility_by_source", _tokenizer_fertility_oracle(),
    tags=("text", "X4", "tokenizer", "bpe", "evaluation"),
)
def tokenizer_fertility_by_source(spark, sf_dir):
    """Tokenizer EVALUATION (r7 verdict #8a): fertility (tokens per
    word) and compression (bytes per token) per source, under the
    sample-trained sequence-BPE table at the ``_BPE_FERTILITY_MERGES``
    vocab-size prefix (greedy BPE: the first 64 rules of a 256-rule fit
    ARE the 64-rule fit) — the tokens-per-word/bytes-per-token report
    every LLM data pipeline publishes for its tokenizer, split by
    source because fertility skew across sources is how domain
    under-representation in tokenizer training shows up (a source the
    tokenizer never saw tokenizes long).

    Train = `fit_bpe_sequences` on the deterministic
    ``_BPE_SAMPLE_DOCS`` md5-slice (the bounded-sample regime);
    encode = `text/bpe.encode_bpe_sequences` — ONE Arrow map pass over
    the full corpus applying the rules in training order via the
    trainer's own literal-replace mechanism (a training doc re-encodes
    to its training segmentation exactly); aggregate = one partial-
    aggregable groupBy(source). Nothing here scales with anything but
    a corpus scan. The oracle replays training (recursive CTE, sampled
    slice) AND re-encodes every document (second recursive CTE, one
    replace per rule per iteration), so fertility numbers are
    value-hash-checked end to end. For this lowercase ascii token
    alphabet chars == bytes, so bytes_per_token is exact."""
    from .text.bpe import encode_bpe_sequences, fit_bpe_sequences

    docs = _t(spark, sf_dir, "documents")
    merges = fit_bpe_sequences(
        docs, n_merges=_BPE_FERTILITY_MERGES, sample_docs=_BPE_SAMPLE_DOCS
    )
    enc = encode_bpe_sequences(docs, merges)
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        pround(
            F.sum("n_tokens")
            / F.nullif(F.sum("n_words"), F.lit(0)).cast("double"), 6
        ).alias("fertility_tokens_per_word"),
        pround(
            F.sum("n_chars")
            / F.nullif(F.sum("n_tokens"), F.lit(0)).cast("double"), 6
        ).alias("bytes_per_token"),
    )


@register(
    "eval_window_decontamination",
    f"""
    WITH toks_t AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'valid'
                  ELSE 'test' END AS split,
             {_TOKS} AS toks
      FROM documents
    ),
    wins AS (
      SELECT DISTINCT doc_id, split, w_fp FROM (
        SELECT doc_id, split,
               unnest(list_transform(range(1, len(toks) - 6),
                 i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                    toks[i+3], toks[i+4], toks[i+5],
                                    toks[i+6], toks[i+7])))) AS w_fp
        FROM toks_t WHERE len(toks) >= 8
      )
    ),
    eval_fps AS (SELECT DISTINCT w_fp FROM wins WHERE split = 'test'),
    hits AS (
      SELECT w.doc_id, count(*) AS n_shared
      FROM wins w JOIN eval_fps e USING (w_fp)
      WHERE w.split = 'train'
      GROUP BY w.doc_id
    ),
    train_docs AS (SELECT doc_id, source FROM toks_t WHERE split = 'train')
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count(h.n_shared) AS BIGINT) AS n_contaminated,
           CAST(count(*) - count(h.n_shared) AS BIGINT) AS n_clean,
           CAST(coalesce(max(h.n_shared), 0) AS BIGINT) AS max_shared_windows
    FROM train_docs t LEFT JOIN hits h USING (doc_id)
    GROUP BY t.source
    """,
    tags=("text", "X2", "decontamination", "training", "sliding-window"),
)
def eval_window_decontamination(spark, sf_dir):
    """Train/eval DECONTAMINATION at substring granularity (r6 verdict
    #8a): flag every train-split document sharing any verbatim 8-token
    window with the held-out eval slice — the n-gram-collision
    decontamination step of LLM training pipelines, strictly stronger
    than `cross_split_contamination`'s whole-document fingerprint (a
    doc that EMBEDS an eval answer passes the whole-doc check but not
    this one). Composes the engine's sliding-window fingerprints
    (verbatim_overlap_pairs' unit: xxhash64 over 8 tokens directly,
    8-byte longs through the explode — the oracle keeps md5 since fps
    are join keys, never output) with the md5-deterministic split of
    train_test_split_stats.

    Scale shape: the eval slice is the structurally small side — its
    distinct window-fp set BROADCASTS, so the train-side explode stays
    map-only into a broadcast semi-join; the only shuffle is the
    per-contaminated-doc DISTINCT-window count, which runs on the join
    SURVIVORS (hits only, not the corpus — deduping per (doc, fp)
    before the join would shuffle every train window; after the
    broadcast join the same dedupe is a partial-aggregated
    `countDistinct` over a hits-sized relation). Survivors (n_clean)
    come from the same left join arithmetically — no second anti-join
    pass over the corpus."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "cd", "train").when(h2 < "e6", "valid").otherwise("test")
    )
    toks = docs.select(
        "doc_id",
        split.alias("split"),
        tokenize(F.lower(F.col("text"))).alias("toks"),
    ).filter(F.size("toks") >= 8)
    idx = F.sequence(F.lit(1), F.size("toks") - 7)
    win = F.xxhash64(
        *[F.element_at("toks", F.col("i") + k) for k in range(8)]
    )
    wins = toks.select(
        "doc_id", "split", "toks", F.explode(idx).alias("i")
    ).select("doc_id", "split", win.alias("w_fp"))
    eval_fps = (
        wins.filter(F.col("split") == "test").select("w_fp").distinct()
    )
    hits = (
        wins.filter(F.col("split") == "train")
        .join(F.broadcast(eval_fps), "w_fp")
        .groupBy("doc_id")
        .agg(F.count_distinct("w_fp").alias("n_shared"))
    )
    train_docs = docs.select("doc_id", "source").where(split == "train")
    return (
        train_docs.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("n_shared").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("n_shared"))
            .cast("bigint")
            .alias("n_clean"),
            F.coalesce(F.max("n_shared"), F.lit(0))
            .cast("bigint")
            .alias("max_shared_windows"),
        )
    )


# ---------------------------------------------------------------------------
# round-6 registry growth: LSH parameter audit + cross-lingual contamination
# ---------------------------------------------------------------------------

#: (bands, rows_per_band) configurations over the shared 8-hash
#: signature — the LSH S-curve trade-off under audit: more bands =
#: higher candidate recall, lower precision.
_BANDING_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))


def _banding_sweep_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh_{i}"
        for i in range(_NUM_HASHES)
    )
    per_cfg = []
    for bands, rows in _BANDING_CONFIGS:
        band_selects = "\n      UNION ALL\n      ".join(
            "SELECT id, sh, {b} AS band_idx, md5(concat_ws('|', {parts})) AS band_hash FROM sig".format(
                b=b,
                parts=", ".join(f"mh_{b * rows + r}" for r in range(rows)),
            )
            for b in range(bands)
        )
        per_cfg.append(f"""
    banded_{bands} AS (
      {band_selects}
    ),
    scored_{bands} AS (
      SELECT round(len(list_intersect(sh_a, sh_b))
                   / CAST(nullif(len(list_distinct(list_concat(sh_a, sh_b))), 0) AS DOUBLE),
                   6) AS jaccard
      FROM (
        SELECT a.id, b.id, any_value(a.sh) AS sh_a, any_value(b.sh) AS sh_b
        FROM banded_{bands} a JOIN banded_{bands} b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
        GROUP BY a.id, b.id
      )
    ),
    summary_{bands} AS (
      SELECT CAST({bands} AS INT) AS bands, CAST({rows} AS INT) AS rows_per_band,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(count(*) FILTER (WHERE jaccard >= {_JACCARD_T}) AS BIGINT) AS n_confirmed,
             round(count(*) FILTER (WHERE jaccard >= {_JACCARD_T})
                   / CAST(nullif(count(*), 0) AS DOUBLE), 6) AS precision_at_t
      FROM scored_{bands}
    )""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM summary_{b}" for b, _ in _BANDING_CONFIGS
    )
    return f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id AS id, {_SHINGLES} AS sh FROM toks_t
              WHERE len(toks) > 0),  -- no-evidence rule (matches the engine's size(sh) > 0)
    sig AS (SELECT id, sh, {sig_cols} FROM base),
    {",".join(per_cfg)}
    {unions}"""


@register(
    "minhash_banding_sweep", _banding_sweep_oracle(),
    tags=("text", "X2", "dedup", "approx", "evaluation"),
)
def minhash_banding_sweep(spark, sf_dir):
    """LSH banding parameter AUDIT (r5 verdict #7): the same 8-component
    MinHash signature banded four ways — (1×8) strictest to (8×1)
    loosest — reporting candidate volume, exact-Jaccard-confirmed pairs
    at the production threshold, and precision per configuration: the
    measured S-curve a banding choice trades along, produced by the
    engine itself and hash-checked against DuckDB.

    r8 (verdict #5): ONE pass, not four sequential jobs, built on the
    candidate-set NESTING of sub-bands — two docs agreeing on a
    full-width (1×8) band hash necessarily agree on each of its
    sub-bands under (2×4)/(4×2)/(8×1), so a pair that collides at
    config rank r collides at every looser rank ≥ r, and the loosest
    config's candidate set is a SUPERSET of all four. Candidates
    therefore explode from the (8×1) buckets ONLY (8 single-minhash
    structs per doc, not 15 per-config band rows), each distinct pair
    is exact-Jaccard-scored ONCE, and its strictest config (cmin) is
    re-derived at verify time as a pure signature-equality expression
    over the two joined 8-component signatures (band agreement ⇔
    conjunction of component equalities — no per-config pair explode,
    no min-rank shuffle). Scoring runs over 8-byte xxhash64 shingle
    FINGERPRINTS (the cross-lingual idiom: shingle text never leaves
    the map stage; only counts surface, so the engine may fingerprint
    where the oracle keeps strings — equivalence classes identical
    ABSENT a 64-bit collision between two distinct shingles of the
    same document pair, an assumption (P ≈ pairs·shingles²/2⁶⁵, not a
    structural guarantee — ADVICE r8) the oracle's rounded-Jaccard
    hash check inherits), and each pair fans out to its candidate ranks via a 4-bounded
    sequence explode. One linear job; shuffle rows are
    (16-byte band hash, id) and fixed-width pair rows. Measured at the
    ×10 sweep: 10.6 s (sequential 4-branch form) → ~6 s."""
    from .io.readers import spread
    from .text.analysis import tokenize
    from .text.dedup import minhash_signature, shingles

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    # pre-filter on token count, not size(sh): a filter on the shingle
    # column is pushed below the projection and duplicates the whole
    # shingle chain per row (same fix as minhash_near_dup_pairs; empty
    # shingle set ⟺ empty token array by construction)
    feat = docs.filter(
        F.size(tokenize(F.lower(F.col("text")))) > 0
    ).select(
        F.col("doc_id").alias("id"), shingles("text", 3).alias("sh")
    ).select(
        "id",
        F.transform("sh", lambda s: F.xxhash64(s)).alias("fp"),
        F.array(*minhash_signature("sh", _NUM_HASHES)).alias("mh"),
    ).persist()
    # Materialize the cache BEFORE dependent stages reference it: lazily,
    # the banded scan and the two verify-join scans schedule concurrently
    # against a cold cache and tasks race to fill the same partitions —
    # the shingle pass ran up to 8× redundantly under 32-thread
    # oversubscription (measured 100-370 s for a 14 s pipeline at the
    # ×10 sweep). One count() is the barrier.
    feat.count()

    # loosest-config buckets: band hash of (8×1) band b IS component b
    banded = feat.select("id", F.posexplode("mh").alias("band_idx", "mh1"))
    buckets = (
        banded.groupBy("band_idx", "mh1")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    ids = F.array_sort(F.col("ids"))
    pair_structs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
        ),
    ))
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    fa = feat.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"),
                     F.col("mh").alias("mh_a"))
    fb = feat.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"),
                     F.col("mh").alias("mh_b"))

    def _collides(bands: int, rows: int):
        """∃ band whose `rows` signature components all agree."""
        band_eq = []
        for b in range(bands):
            eqs = [
                F.element_at("mh_a", b * rows + r + 1)
                == F.element_at("mh_b", b * rows + r + 1)
                for r in range(rows)
            ]
            conj = eqs[0]
            for e in eqs[1:]:
                conj = conj & e
            band_eq.append(conj)
        disj = band_eq[0]
        for e in band_eq[1:]:
            disj = disj | e
        return disj

    # strictest config that catches the pair; ELSE = loosest rank (every
    # candidate collides there by construction)
    cmin = F.when(_collides(*_BANDING_CONFIGS[0]), 0)
    for rank, cfg in enumerate(_BANDING_CONFIGS[1:-1], start=1):
        cmin = cmin.when(_collides(*cfg), rank)
    cmin = cmin.otherwise(len(_BANDING_CONFIGS) - 1)

    inter = F.size(F.array_intersect("fp_a", "fp_b"))
    union = F.size(F.array_union("fp_a", "fp_b"))
    jac = pround(inter / F.when(union != 0, union).cast("double"), 6)
    scored = (
        pairs.join(fa, "id_a").join(fb, "id_b")
        .select(cmin.alias("cmin"), jac.alias("jaccard"))
    )
    max_rank = len(_BANDING_CONFIGS) - 1
    per_rank = (
        scored.select(
            F.explode(F.sequence("cmin", F.lit(max_rank))).alias("rank"),
            "jaccard",
        )
        .groupBy("rank")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.count(F.when(F.col("jaccard") >= _JACCARD_T, 1)).alias("n_conf"),
        )
    )
    cfgs = spark.createDataFrame(
        [(r, b, rw) for r, (b, rw) in enumerate(_BANDING_CONFIGS)],
        "rank int, bands int, rows_per_band int",
    )
    out = (
        cfgs.join(per_rank, "rank", "left")
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_conf", F.lit(0)).cast("long").alias("n_confirmed"),
            pround(
                F.col("n_conf")
                / F.nullif(F.col("n_cand"), F.lit(0)).cast("double"), 6
            ).alias("precision_at_t"),
        )
        # tiny (4-row) eager materialization so the shingle cache can be
        # scope-released before returning — the single job runs here
        .localCheckpoint(eager=True)
    )
    feat.unpersist()
    return out


@register(
    "cross_lingual_contamination",
    f"""
    WITH toks_t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    wins AS (
      SELECT DISTINCT lang, doc_id, w_fp FROM (
        SELECT lang, doc_id,
               unnest(list_transform(range(1, len(toks) - 6),
                 i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                    toks[i+3], toks[i+4], toks[i+5],
                                    toks[i+6], toks[i+7])))) AS w_fp
        FROM toks_t WHERE len(toks) >= 8
      )
    ),
    per_lang AS (
      SELECT lang, w_fp, count(*) AS n_docs
      FROM wins GROUP BY lang, w_fp
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(count(*) AS BIGINT) AS n_shared_windows,
           CAST(sum(a.n_docs) AS BIGINT) AS n_docs_a,
           CAST(sum(b.n_docs) AS BIGINT) AS n_docs_b
    FROM per_lang a JOIN per_lang b ON a.w_fp = b.w_fp AND a.lang < b.lang
    GROUP BY a.lang, b.lang
    """,
    tags=("text", "X2", "dedup", "contamination", "sliding-window"),
)
def cross_lingual_contamination(spark, sf_dir):
    """Cross-lingual contamination audit (r5 verdict #7): verbatim
    8-token window fingerprints (verbatim_overlap_pairs' unit) joined
    ACROSS language labels — a window alive in two languages is copied
    or mislabeled text leaking across per-language corpus splits, the
    check a multilingual pipeline runs before per-lang sampling (whole-
    document fingerprints are too coarse: this corpus has zero exact
    cross-lang dups but hundreds of shared verbatim windows). Per
    (lang, fingerprint) doc counts aggregate first, so the cross-lang
    expansion carries 8-byte xxhash64 digests with per-lang counts —
    never text, never doc-level rows (the fp never surfaces in output,
    only lang-pair counts do, so the engine uses a long fingerprint
    where the oracle keeps md5: identical equivalence classes, 4×
    narrower rows through the hottest explode+shuffle)."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "lang", "doc_id", tokenize(F.lower(F.col("text"))).alias("toks")
        )
        .filter(F.size("toks") >= 8)
    )
    # Window fp = xxhash64 over the 8 tokens directly (seed-chained,
    # order-sensitive): no concat_ws string allocation per window and
    # the explode+hash pipeline stays in one WholeStageCodegen span
    # (array-HOF variants measured slower — HOFs evaluate interpreted).
    idx = F.sequence(F.lit(1), F.size("toks") - 7)
    win = F.xxhash64(
        *[F.element_at("toks", F.col("i") + k) for k in range(8)]
    )
    wins = toks.select(
        "lang", "doc_id", F.explode(idx).alias("i"), "toks"
    ).select("lang", "doc_id", win.alias("w_fp"))
    # ONE shuffle serves both aggregations: window fingerprints are
    # ~99% unique per (lang, doc), so back-to-back shuffles on
    # (lang, w_fp) then (w_fp) each carried the full window set with
    # no reduction in between (measured: 2.36M -> 2.32M rows).
    # HashPartitioning(w_fp) satisfies the clustering requirement of
    # BOTH groupBys (w_fp is a subset of each key set), so after one
    # repartition the per-lang distinct count AND the per-fp lang
    # grouping run partition-local — measured 1.86 s -> 1.10 s at x10.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_lang = (
        wins.repartition(n_shuffle, "w_fp")
        .groupBy("w_fp", "lang")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    # pair expansion by bucket aggregation, NOT a self-join: a self-join
    # re-computes the whole explode+md5+aggregate pipeline once per side
    # (exchange reuse across differently-aliased sides is best-effort);
    # grouping per fingerprint and expanding lang pairs in-place keeps
    # ONE pipeline, and the per-fp array is bounded by the language
    # count (the minhash candidate-generation idiom)
    grouped = (
        per_lang.groupBy("w_fp")
        .agg(F.collect_list(F.struct("lang", "n_docs")).alias("langs"))
        .filter(F.size("langs") >= 2)
    )
    entries = F.array_sort(F.col("langs"))  # struct sort: lang asc first
    pairs = F.flatten(F.transform(
        entries,
        lambda x, i: F.transform(
            F.slice(entries, i + 2, F.size(entries)),
            lambda y: F.struct(
                x["lang"].alias("lang_a"), y["lang"].alias("lang_b"),
                x["n_docs"].alias("na"), y["n_docs"].alias("nb"),
            ),
        ),
    ))
    exploded = grouped.select(F.explode(pairs).alias("p")).select(
        F.col("p.lang_a").alias("lang_a"), F.col("p.lang_b").alias("lang_b"),
        F.col("p.na").alias("na"), F.col("p.nb").alias("nb"),
    )
    return exploded.groupBy("lang_a", "lang_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_windows"),
        F.sum("na").cast("long").alias("n_docs_a"),
        F.sum("nb").cast("long").alias("n_docs_b"),
    )


@register(
    "bpe_packed_shards",
    f"""{_bpe_doc_tokens_ctes()},
    sized AS (
      SELECT d.source, d.doc_id,
             coalesce(dt.n_toks, 0) AS n_bpe_tokens
      FROM documents d LEFT JOIN doc_tok dt ON dt.doc_id = d.doc_id
    ),
    packed AS (
      SELECT source, doc_id, n_bpe_tokens,
             CAST(floor((sum(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_bpe_tokens) / 4000.0)
                  AS BIGINT) AS shard_id
      FROM sized
    )
    SELECT source, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe_tokens) AS BIGINT) AS shard_tokens
    FROM packed GROUP BY source, shard_id
    """,
    tags=("text", "training", "packing", "tokenizer", "bpe"),
)
def bpe_packed_shards(spark, sf_dir):
    """The end-to-end tokenizer→curation composition: train BPE on the
    corpus, encode every document with the learned rules, and pack the
    REAL per-document subword counts into ~4k-token training shards
    (token_budget_shards' greedy per-source prefix-sum, which that query
    runs on the chars/4 heuristic — this one replaces the estimate with
    the tokenizer's actual output, the difference between provisioning a
    training run by guess and by measure). Per-source partitioned prefix
    sum — no global window; the encode is the map-only memoized Arrow
    pass; the oracle replays training, re-encodes every distinct word in
    SQL, and packs identically."""
    from pyspark.sql import Window as W

    from .text.bpe import apply_bpe, fit_bpe, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    vocab = word_frequencies(docs, max_vocab=_BPE_MAX_VOCAB)
    merges = fit_bpe(vocab, n_merges=_BPE_N_MERGES)
    sized = apply_bpe(docs, merges, ordered=True).select(
        "source", "doc_id", F.size("bpe_tokens").cast("long").alias("n_bpe_tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = sized.withColumn(
        "shard_id",
        F.floor(
            (F.sum("n_bpe_tokens").over(w) - F.col("n_bpe_tokens")) / 4000.0
        ).cast("long"),
    )
    return packed.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").cast("long").alias("shard_tokens"),
    )


def _incremental_admission_oracle() -> str:
    rows_per_band = _NUM_HASHES // _BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh_{i}"
        for i in range(_NUM_HASHES)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT id, incumbent, {b} AS band_idx, "
        "md5(concat_ws('|', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH toks_t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id AS id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS incumbent,
             {_SHINGLES} AS sh
      FROM toks_t
    ),
    sig AS (SELECT id, incumbent, sh, {sig_cols} FROM base),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT n.id AS new_id, i.id AS inc_id
      FROM banded n JOIN banded i
        ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash
       AND NOT n.incumbent AND i.incumbent
    ),
    verified AS (
      SELECT DISTINCT c.new_id
      FROM cand c
      JOIN base bn ON bn.id = c.new_id
      JOIN base bi ON bi.id = c.inc_id
      WHERE round(len(list_intersect(bn.sh, bi.sh))
                  / CAST(nullif(len(list_distinct(list_concat(bn.sh, bi.sh))),
                                0) AS DOUBLE), 6) >= {_JACCARD_T}
    ),
    flagged AS (SELECT DISTINCT new_id FROM cand)
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN f.new_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN v.new_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rejected,
           CAST(count(*) - sum(CASE WHEN v.new_id IS NOT NULL THEN 1 ELSE 0
                               END) AS BIGINT) AS n_admitted
    FROM base b
    LEFT JOIN flagged  f ON f.new_id = b.id
    LEFT JOIN verified v ON v.new_id = b.id
    WHERE NOT b.incumbent
    GROUP BY b.source
    """


@register(
    "minhash_incremental_admission", _incremental_admission_oracle(),
    tags=("text", "X2", "dedup", "incremental"),
)
def minhash_incremental_admission(spark, sf_dir):
    """INCREMENTAL dedup admission (r7 registry depth): a new document
    batch (md5-deterministic ~20% slice — the arriving crawl/daily drop)
    is screened against the INCUMBENT corpus's banded MinHash index
    (production 8-hash × 4-band config) — the admission gate a
    continuously-updated training corpus runs on every ingest, where
    re-deduping the whole corpus per batch is a non-starter. Per source:
    batch size, docs flagged by ≥1 band collision with the incumbent
    index, docs rejected after exact-Jaccard verification at the
    production threshold, and docs admitted.

    Scale shape: the incumbent band index is AT REST in production — a
    materialized table keyed/bucketed by (band_idx, band_hash), which
    is exactly the grouped `buckets` relation below; here it is rebuilt
    from the corpus since the sf-dir contract is read-only, and that
    rebuild (one slim (id, incumbent, band-hash) shuffle into the
    bucket layout — 25 bytes/row, never text) is the only
    index-proportional work in the plan. Batch rows land in the same
    exchange, collisions expand INSIDE each bucket array
    (new×incumbent only), and verification attaches shingle sets for
    the candidate ids only (semi-join-pruned); admission counts
    aggregate batch-side rows only. r11: this replaced a
    broadcast-probe form whose two filtered branches of the banded
    relation re-expanded the shingle+signature subtree four times —
    featurization now runs once over a call-scoped cache."""
    from .text.dedup import band_structs, minhash_signature, shingles

    docs = _t(spark, sf_dir, "documents")
    incumbent = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    # r11: ONE featurization pass. The previous shape re-expanded the
    # shingle subtree four times (two filtered branches of the banded
    # relation joined against each other, plus a shingle re-expansion
    # per verify side); persisting (id, source, incumbent, fp, mh) and
    # finding collisions by BUCKET AGGREGATION over a single banded
    # scan (the dedup_cluster_delta idiom — group ids per band bucket,
    # expand new×incumbent pairs inside the bucket array) computes
    # shingles+signature exactly once and replaces the probe join's
    # shuffle pair with one groupBy exchange.
    # r11 (second pass): the cached relation carries shingle
    # FINGERPRINTS (xxhash64 longs) + the minhash components, never the
    # shingle strings — verification needs shingle IDENTITY only, and
    # fp-Jaccard equals string-Jaccard absent a 64-bit collision within
    # a compared pair (the dedup_cluster_delta / verbatim-runs
    # convention). Cache bytes drop ~2.5× and the verify intersects
    # compare longs, not grams. The shingle stage still evaluates once:
    # `sh` is multi-referenced and non-cheap, so CollapseProject keeps
    # the two-level projection materializing it per row.
    shingled = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        incumbent.alias("incumbent"),
        shingles("text", 3).alias("sh"),
    )
    base = shingled.select(
        "id", "source", "incumbent",
        F.transform("sh", lambda s: F.xxhash64(s)).alias("fp"),
        *minhash_signature("sh", _NUM_HASHES),
    ).persist()
    base.count()  # cache barrier (see minhash_banding_sweep)
    banded = base.select(
        "id", "incumbent",
        F.explode(band_structs(_NUM_HASHES, _BANDS)).alias("band"),
    ).select("id", "incumbent", "band.band_idx", "band.band_hash")
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.collect_list(F.struct("id", "incumbent")).alias("ents"))
        .filter(
            F.exists("ents", lambda e: e["incumbent"])
            & F.exists("ents", lambda e: ~e["incumbent"])
        )
    )
    news = F.filter("ents", lambda e: ~e["incumbent"])
    incs = F.filter("ents", lambda e: e["incumbent"])
    pair_structs = F.flatten(
        F.transform(
            news,
            lambda n: F.transform(
                incs,
                lambda i: F.struct(
                    n["id"].alias("new_id"), i["id"].alias("inc_id")
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.new_id", "p.inc_id")
        .distinct()
    )
    sh_new = base.filter(~F.col("incumbent")).select(
        F.col("id").alias("new_id"), F.col("fp").alias("sh_n")
    )
    sh_inc = base.filter(F.col("incumbent")).select(
        F.col("id").alias("inc_id"), F.col("fp").alias("sh_i")
    )
    inter = F.size(F.array_intersect("sh_n", "sh_i"))
    union = F.size(F.array_union("sh_n", "sh_i"))
    jac = pround(inter / F.when(union != 0, union).cast("double"), 6)
    verified = (
        cand.join(sh_new, "new_id")
        .join(sh_inc, "inc_id")
        .filter(jac >= _JACCARD_T)
        .select("new_id")
        .distinct()
        .withColumn("rejected", F.lit(True))
    )
    flagged = cand.select("new_id").distinct().withColumn(
        "flagged", F.lit(True)
    )
    batch = base.filter(~F.col("incumbent")).select(
        F.col("id").alias("new_id"), "source"
    )
    out = (
        batch.join(flagged, "new_id", "left")
        .join(verified, "new_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.count("flagged").cast("bigint").alias("n_flagged"),
            F.count("rejected").cast("bigint").alias("n_rejected"),
            (F.count(F.lit(1)) - F.count("rejected"))
            .cast("bigint")
            .alias("n_admitted"),
        )
        # tiny (per-source) eager materialization so the shingle cache
        # can be scope-released before returning
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


@register(
    "split_drift_chi2_by_source",
    f"""
    WITH toks_t AS (
      SELECT source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS is_train,
             {_TOKS} AS toks
      FROM documents
    ),
    cells AS (
      SELECT source, tok,
             sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS c_tr,
             sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS c_ho
      FROM (SELECT source, is_train, unnest(toks) AS tok FROM toks_t)
      GROUP BY source, tok
    ),
    rk AS (
      SELECT source, c_tr, c_ho,
             row_number() OVER (PARTITION BY source
                                ORDER BY c_tr + c_ho DESC, tok) AS r
      FROM cells
    ),
    top AS (
      SELECT source, c_tr, c_ho,
             sum(c_tr) OVER (PARTITION BY source) AS t_tot,
             sum(c_ho) OVER (PARTITION BY source) AS h_tot
      FROM rk WHERE r <= 50
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(sum(
             pow(c_tr - (c_tr + c_ho) * t_tot / CAST(nullif(t_tot + h_tot, 0) AS DOUBLE), 2)
               / nullif((c_tr + c_ho) * t_tot / CAST(nullif(t_tot + h_tot, 0) AS DOUBLE), 0)
             + pow(c_ho - (c_tr + c_ho) * h_tot / CAST(nullif(t_tot + h_tot, 0) AS DOUBLE), 2)
               / nullif((c_tr + c_ho) * h_tot / CAST(nullif(t_tot + h_tot, 0) AS DOUBLE), 0)
           ), 4) AS chi2
    FROM top GROUP BY source
    """,
    tags=("text", "X4", "quality", "drift", "evaluation"),
)
def split_drift_chi2_by_source(spark, sf_dir):
    """Two-sample chi² drift between the train and held-out splits, per
    source, over each source's top-50 terms — the DISTRIBUTIONAL drift
    test beside heldout_bigram_fit_by_source's OOV/log-prob view (a
    templated or shifting source shows high chi² even when every term
    is in-vocabulary). Splits are the corpus-wide md5-deterministic
    ~80/20 slice every split query shares.

    Scale shape: the corpus pays ONE occurrence shuffle — the
    (source, term) groupBy with map-side combine carrying both splits'
    counts (the heldout-LM cells idiom) — and everything downstream
    (rank window, expected-count windows, chi² aggregate) runs on the
    vocabulary-sized then ≤50-rows-per-source relation."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    cells = (
        docs.select(
            "source", is_train.alias("is_train"),
            F.explode(tokenize(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(
            F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("c_tr"),
            F.sum(F.when(~F.col("is_train"), 1).otherwise(0)).alias("c_ho"),
        )
    )
    rk = cells.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("source").orderBy(
                (F.col("c_tr") + F.col("c_ho")).desc(), "tok"
            )
        ),
    ).filter(F.col("r") <= 50)
    w_s = W.partitionBy("source")
    top = rk.select(
        "source", "c_tr", "c_ho",
        F.sum("c_tr").over(w_s).alias("t_tot"),
        F.sum("c_ho").over(w_s).alias("h_tot"),
    )
    tot = F.nullif(
        (F.col("t_tot") + F.col("h_tot")).cast("double"), F.lit(0.0)
    )
    e_tr = (F.col("c_tr") + F.col("c_ho")) * F.col("t_tot") / tot
    e_ho = (F.col("c_tr") + F.col("c_ho")) * F.col("h_tot") / tot
    term = (
        F.pow(F.col("c_tr") - e_tr, F.lit(2.0)) / F.nullif(e_tr, F.lit(0.0))
        + F.pow(F.col("c_ho") - e_ho, F.lit(2.0)) / F.nullif(e_ho, F.lit(0.0))
    )
    return top.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        pround(F.sum(term), 4).alias("chi2"),
    )


def _heldout_lm_oracle() -> str:
    return f"""
    WITH toks_t AS (
      SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS is_train,
             {_TOKS} AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, source, is_train,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b,
             unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS b1
      FROM toks_t
    ),
    cnt AS (SELECT b, count(*) AS c FROM bg WHERE is_train GROUP BY b),
    pre AS (SELECT b1, count(*) AS cp FROM bg WHERE is_train GROUP BY b1),
    scored AS (
      SELECT g.source, g.b, c.c, p.cp
      FROM bg g
      LEFT JOIN cnt c USING (b)
      LEFT JOIN pre p USING (b1)
      WHERE NOT g.is_train
    ),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             round(sum(CASE WHEN c IS NOT NULL
                            THEN ln(c / CAST(cp AS DOUBLE)) END)
                   / nullif(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END),
                            0), 4) AS avg_seen_logprob
      FROM scored GROUP BY source
    ),
    docs_h AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM toks_t WHERE NOT is_train GROUP BY source
    )
    SELECT d.source, d.n_docs,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           coalesce(p.n_oov, 0) AS n_oov,
           round(coalesce(p.n_oov, 0)
                 / CAST(nullif(p.n_bigrams, 0) AS DOUBLE), 4) AS oov_rate,
           p.avg_seen_logprob
    FROM docs_h d LEFT JOIN per_src p USING (source)
    """


@register(
    "heldout_bigram_fit_by_source", _heldout_lm_oracle(),
    tags=("text", "X4", "quality", "lm", "evaluation"),
)
def heldout_bigram_fit_by_source(spark, sf_dir):
    """HELD-OUT language-model fit (r7 registry depth): a bigram MLE
    trained on the train split (the md5-deterministic ~80% slice every
    split query shares) scores the held-out slice — per source, the
    held-out bigram volume, the OOV rate (bigrams never seen in
    training — the drift/quality signal), and the mean conditional
    log-probability over SEEN bigrams. This is the cross-split
    generalization measurement a corpus pipeline runs where
    bigram_logprob_score is in-sample: a source whose held-out text
    surprises a model fit on its own train slice is templated,
    shifting, or contaminated. OOV is reported, not smoothed away — no
    smoothing constant to argue about, and both engines agree exactly.

    Scale shape (r8 rewrite — was 4.1 s / 10.1x at the x10 sweep; after
    it, 2.0 s / 4.5x at x10 and **4.6 s / 1.36x at x100** with scaling
    exponent 0.36 — the residual x10 gap is job floor and amortizes
    exactly as a linear plan predicts): the
    corpus pays exactly ONE occurrence-level shuffle, a
    groupBy(hb, hb1, source) whose map-side combine collapses repeated
    bigrams before the exchange and which carries BOTH the train and
    held-out occurrence counts of each (bigram, source) cell. Every
    downstream relation (global train counts, prefix counts, held-out
    scoring joins) then operates on distinct-bigram-sized data — the
    previous shape shuffled raw occurrences through two count groupBys
    plus two joins. Keys are xxhash64 8-byte fingerprints (the
    cross_lingual_contamination idiom); bigram text never leaves the
    map stage, and the output is per-source counts so fingerprints
    never surface. The oracle keeps raw strings and agrees because MLE
    counts only need key equality, which the 64-bit hash preserves
    (collision odds ~n^2/2^65 — negligible against corpus vocabulary)."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    toks = F.col("toks")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    # arrays_zip(slice, slice) builds the bigram structs inside
    # whole-stage codegen — measured 0.53 s vs 0.82 s for the
    # equivalent higher-order transform() lambda (HOF lambdas are
    # interpreted per element) over the x10 corpus.
    pairs = F.arrays_zip(
        F.slice(toks, 1, n1).alias("b1"), F.slice(toks, 2, n1).alias("b2")
    )
    # ONE occurrence-level pass: hash each bigram to (hb, hb1) 8-byte
    # keys in the explode's map stage and immediately collapse to
    # (hb, hb1, source) cells carrying train/held-out occurrence
    # counts — map-side combine means the exchange moves distinct
    # bigrams per partition, not occurrences. hb determines hb1 (the
    # bigram includes its prefix), so hb1 rides along as a grouping
    # key for free instead of needing a second occurrence pass.
    # spread() (r12; was an unconditional doc-keyed repartition) spreads
    # tokenize+explode across all cores while the corpus parquet is
    # compact — and SKIPS the raw-text shuffle once the scan is already
    # wide (§2.3). `toks` is a materialized column so the pair slices
    # read an array instead of re-running the regexp split.
    from .io.readers import spread

    cells = (
        spread(
            docs.select(
                "doc_id", "source", is_train.alias("is_train"), "text"
            ),
            "doc_id",
        )
        .select(
            "source", "is_train",
            tokenize(F.lower(F.col("text"))).alias("toks"),
        )
        .select("source", "is_train", F.explode(pairs).alias("p"))
        .groupBy(
            F.xxhash64("p.b1", "p.b2").alias("hb"),
            F.xxhash64("p.b1").alias("hb1"),
            F.col("source"),
        )
        .agg(
            F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("c_tr"),
            F.sum(F.when(~F.col("is_train"), 1).otherwise(0)).alias("c_ho"),
        )
    )
    # Train MLE counts are GLOBAL (summed across sources): window sums
    # over the distinct-bigram cells give c(b) and c(b1) without a
    # persist, two count groupBys, or two joins — the whole query is
    # one linear plan (corpus pass -> cells agg -> one window exchange
    # over ~|vocab|x|sources| rows -> per-source agg). Because hb
    # functionally determines hb1 (the bigram embeds its prefix),
    # partitionBy(hb1, hb) yields exactly the per-bigram groups while
    # letting BOTH windows share the single hb1 exchange and a
    # prefix-compatible sort.
    w_b = W.partitionBy("hb1", "hb")
    w_p = W.partitionBy("hb1")
    seen = F.col("c") > 0
    per_src = (
        cells.withColumn("c", F.sum("c_tr").over(w_b))
        .withColumn("cp", F.sum("c_tr").over(w_p))
        .filter(F.col("c_ho") > 0)
        .groupBy("source")
        .agg(
            F.sum("c_ho").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(~seen, F.col("c_ho")).otherwise(0))
            .cast("bigint").alias("n_oov"),
            pround(
                F.sum(
                    F.when(
                        seen,
                        F.col("c_ho")
                        * F.log(F.col("c") / F.col("cp").cast("double")),
                    )
                )
                / F.nullif(
                    F.sum(F.when(seen, F.col("c_ho")).otherwise(0)), F.lit(0)
                ).cast("double"),
                4,
            ).alias("avg_seen_logprob"),
        )
    )
    docs_h = (
        docs.filter(~is_train)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    out = docs_h.join(per_src, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        pround(
            F.coalesce("n_oov", F.lit(0))
            / F.nullif(F.col("n_bigrams"), F.lit(0)).cast("double"),
            4,
        ).alias("oov_rate"),
        "avg_seen_logprob",
    )
    return out


# ---------------------------------------------------------------------------
# round-8 registry growth: incremental cluster reconciliation
# ---------------------------------------------------------------------------


def _cluster_delta_oracle() -> str:
    """Shares the admission oracle's banding preamble; adds the two
    transitive closures (incumbent at-rest components, then the
    batch-sized delta graph) as recursive CTEs."""
    rows_per_band = _NUM_HASHES // _BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh_{i}"
        for i in range(_NUM_HASHES)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT id, inc, {b} AS band_idx, "
        "md5(concat_ws('|', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH RECURSIVE toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id AS id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS inc,
             {_SHINGLES} AS sh
      FROM toks_t
    ),
    sig AS (SELECT id, inc, sh, {sig_cols} FROM base),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.id < b.id
    ),
    ver AS (
      SELECT c.id_a, c.id_b, ba.inc AS inc_a, bb.inc AS inc_b
      FROM cand c
      JOIN base ba ON ba.id = c.id_a
      JOIN base bb ON bb.id = c.id_b
      WHERE round(len(list_intersect(ba.sh, bb.sh))
                  / CAST(nullif(len(list_distinct(list_concat(ba.sh, bb.sh))),
                                0) AS DOUBLE), 6) >= {_JACCARD_T}
    ),
    inc_edges AS (
      SELECT id_a AS a, id_b AS b FROM ver WHERE inc_a AND inc_b
      UNION
      SELECT id_b, id_a FROM ver WHERE inc_a AND inc_b
    ),
    inc_cc AS (
      SELECT a AS id, a AS comp FROM inc_edges
      UNION
      SELECT e.b AS id, c.comp FROM inc_cc c JOIN inc_edges e ON e.a = c.id
    ),
    inc_labels AS (SELECT id, min(comp) AS component FROM inc_cc GROUP BY id),
    comp_sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n FROM inc_labels
      GROUP BY component
    ),
    b2i AS (
      SELECT CASE WHEN inc_a THEN id_b ELSE id_a END AS bid,
             CASE WHEN inc_a THEN id_a ELSE id_b END AS iid
      FROM ver WHERE inc_a <> inc_b
    ),
    delta_raw AS (
      SELECT bid AS a, coalesce(l.component, b2i.iid) AS b
      FROM b2i LEFT JOIN inc_labels l ON l.id = b2i.iid
      UNION
      SELECT id_a, id_b FROM ver WHERE NOT inc_a AND NOT inc_b
    ),
    delta_edges AS (
      SELECT a, b FROM delta_raw UNION SELECT b, a FROM delta_raw
    ),
    delta_cc AS (
      SELECT a AS id, a AS comp FROM delta_edges
      UNION
      SELECT e.b AS id, c.comp FROM delta_cc c JOIN delta_edges e ON e.a = c.id
    ),
    delta_labels AS (
      SELECT id, min(comp) AS dcomp FROM delta_cc GROUP BY id
    ),
    nodes AS (
      SELECT dl.id, dl.dcomp, b.inc FROM delta_labels dl
      JOIN base b ON b.id = dl.id
    )
    SELECT dcomp AS component,
           CAST(count(*) FILTER (WHERE NOT inc) AS BIGINT) AS n_new_members,
           CAST(coalesce(sum(CASE WHEN inc THEN coalesce(cs.n, 1) END), 0)
                AS BIGINT) AS n_incumbent_members,
           CAST(count(*) FILTER (WHERE inc) AS BIGINT) AS n_merged_components
    FROM nodes LEFT JOIN comp_sizes cs ON cs.component = nodes.id AND nodes.inc
    GROUP BY dcomp
    """


@register(
    "dedup_cluster_delta", _cluster_delta_oracle(),
    tags=("text", "X2", "dedup", "incremental", "clusters"),
)
def dedup_cluster_delta(spark, sf_dir, *, _driver_max_edge_rows=None):
    """INCREMENTAL cluster reconciliation (r7 verdict #8b — composes
    `minhash_incremental_admission` with `near_dup_clusters`): after a
    new batch (the md5-slice >= 'cd', ~20%) arrives against the
    incumbent corpus's at-rest dedup clusters, reconcile the survivor
    clusters WITHOUT re-clustering the corpus. New verified edges come
    in two kinds — batch↔incumbent (each collapses to (batch_doc,
    incumbent_COMPONENT) through the stored labels) and batch↔batch —
    and the reconciliation graph built from them is BATCH-sized: its
    nodes are batch docs plus the touched incumbent component labels,
    never incumbent members. Label propagation over that delta graph
    yields, per affected cluster: new members admitted into it, the
    incumbent mass it already held, and how many formerly-separate
    incumbent components the batch BRIDGED into one (n_merged_components
    >= 2 is the merge event an incremental maintainer must detect —
    the case where a new doc proves two old clusters were one).

    Scale shape: in production the incumbent labels and band index are
    AT REST (the sf-dir contract is read-only, so both are rebuilt
    here — the same caveat as minhash_incremental_admission); the only
    per-batch work is the banded collision probe, exact verification on
    collision survivors, and a connected-components pass whose node set
    is bounded by batch size + touched components. Incumbent component
    ids are their min member ids and the id domains are disjoint, so
    the delta graph reuses `text/clusters.connected_components`
    unchanged, and the merged cluster's label (min over node ids) IS
    the min over all true members. The oracle replays both closures as
    recursive CTEs over exact shingle STRINGS where the engine scores
    xxhash64 shingle fingerprints — equivalence classes identical
    absent a 64-bit collision within a compared pair (probabilistic
    assumption, not structural; see minhash_banding_sweep — ADVICE
    r8)."""
    from .text.clusters import connected_components
    from .text.dedup import minhash_signature, shingles

    rows_per_band = _NUM_HASHES // _BANDS
    docs = _t(spark, sf_dir, "documents")
    incumbent = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    base = docs.select(
        F.col("doc_id").alias("id"),
        incumbent.alias("inc"),
        shingles("text", 3).alias("sh"),
    ).select(
        "id", "inc",
        F.transform("sh", lambda s: F.xxhash64(s)).alias("fp"),
        F.array(*minhash_signature("sh", _NUM_HASHES)).alias("mh"),
    ).persist()
    base.count()  # cache barrier (see minhash_banding_sweep)

    band_cols = []
    for b in range(_BANDS):
        parts = [
            F.element_at("mh", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        band_cols.append(F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("|", *parts)).alias("band_hash"),
        ))
    banded = base.select(
        "id", "inc", F.explode(F.array(*band_cols)).alias("band")
    ).select("id", "inc", "band.band_idx", "band.band_hash")
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.collect_list(F.struct("id", "inc")).alias("ents"))
        .filter(F.size("ents") >= 2)
    )
    ents = F.array_sort(F.col("ents"))  # struct sort: id asc first
    pair_structs = F.flatten(F.transform(
        ents,
        lambda x, i: F.transform(
            F.slice(ents, i + 2, F.size(ents)),
            lambda y: F.struct(
                x["id"].alias("id_a"), x["inc"].alias("inc_a"),
                y["id"].alias("id_b"), y["inc"].alias("inc_b"),
            ),
        ),
    ))
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.inc_a", "p.id_b", "p.inc_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    fa = base.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    fb = base.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    inter = F.size(F.array_intersect("fp_a", "fp_b"))
    union = F.size(F.array_union("fp_a", "fp_b"))
    jac = pround(inter / F.when(union != 0, union).cast("double"), 6)
    # exact verification on collision survivors only, over 8-byte
    # shingle fingerprints (the banding-sweep idiom: text stays in the
    # map stage; only counts feed the threshold)
    ver = (
        cand.join(fa, "id_a").join(fb, "id_b")
        .filter(jac >= _JACCARD_T)
        .select("id_a", "inc_a", "id_b", "inc_b")
        .localCheckpoint(eager=True)  # feeds 3 edge classes + 2 CC loops
    )
    # Batch-sized driver fast path (r11, the CC_DRIVER_MAX_EDGE_ROWS
    # discipline one level up): the WHOLE reconciliation graph — both
    # union-finds, the component sizes, and the final per-cluster
    # rollup — is bounded by the verified-edge count, which is a
    # provable bound (a count over the just-materialized checkpoint,
    # never an estimate). At or below the gate the distributed form's
    # ~9 scheduling-bound jobs (two CC passes of sym-distinct +
    # checkpoint + count + collect each, two enrichment joins, the
    # final aggregate) collapse into ONE bounded collect + pure-Python
    # union-find (text/clusters.union_find_min — the exact min-label
    # twin, pinned by the CC random battery) + one local relation.
    # Above the gate the distributed path below is unchanged — and at a
    # 100 TB *incumbent* the reconciliation graph is still BATCH-sized
    # by construction (nodes are batch docs + touched component
    # labels), so the gate routes on the right variable. Measured ×10
    # paired: 6.7–7.0 → ~4 s (see OPTIMIZATION_r11.md).
    from .text.clusters import CC_DRIVER_MAX_EDGE_ROWS, union_find_min

    gate = (CC_DRIVER_MAX_EDGE_ROWS if _driver_max_edge_rows is None
            else _driver_max_edge_rows)
    # gate > 0: the documented gate=0 override forces the distributed
    # lane even on an empty verified-edge set (ADVICE r11; same
    # convention as connected_components)
    if gate > 0 and ver.count() <= gate:
        from collections import Counter

        from pyspark.sql.types import LongType, StructField, StructType

        rows = ver.collect()
        inc_lbl = union_find_min(
            (r.id_a, r.id_b) for r in rows if r.inc_a and r.inc_b
        )
        comp_sizes = Counter(inc_lbl.values())
        delta_edges = []
        node_inc: dict = {}
        for r in rows:
            if r.inc_a and r.inc_b:
                continue
            if r.inc_a != r.inc_b:
                bid = r.id_b if r.inc_a else r.id_a
                iid = r.id_a if r.inc_a else r.id_b
                lbl = inc_lbl.get(iid, iid)
                delta_edges.append((bid, lbl))
                node_inc[bid] = False
                node_inc[lbl] = True
            else:
                delta_edges.append((r.id_a, r.id_b))
                node_inc[r.id_a] = False
                node_inc[r.id_b] = False
        delta_lbl = union_find_min(delta_edges)
        agg: dict = {}
        for node, comp in delta_lbl.items():
            acc = agg.setdefault(comp, [0, 0, 0])  # new, inc mass, merged
            if node_inc[node]:
                acc[1] += comp_sizes.get(node, 1)
                acc[2] += 1
            else:
                acc[0] += 1
        id_t = ver.schema["id_a"].dataType
        schema = StructType([
            StructField("component", id_t, False),
            StructField("n_new_members", LongType(), False),
            StructField("n_incumbent_members", LongType(), False),
            StructField("n_merged_components", LongType(), False),
        ])
        base.unpersist()
        return spark.createDataFrame(
            [(c, *v) for c, v in sorted(agg.items())], schema
        )
    inc_pairs = ver.filter(F.col("inc_a") & F.col("inc_b"))
    inc_labels = connected_components(inc_pairs)  # id -> component
    comp_sizes = (
        inc_labels.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumnRenamed("component", "cs_comp")
    )

    b2i = ver.filter(F.col("inc_a") != F.col("inc_b")).select(
        F.when(F.col("inc_a"), F.col("id_b")).otherwise(F.col("id_a")).alias("bid"),
        F.when(F.col("inc_a"), F.col("id_a")).otherwise(F.col("id_b")).alias("iid"),
    )
    b2i_c = (
        b2i.join(
            inc_labels.select(F.col("id").alias("iid"), "component"),
            "iid", "left",
        )
        .select(
            F.col("bid").alias("id_a"),
            F.coalesce("component", F.col("iid")).alias("id_b"),
        )
    )
    b2b = ver.filter(~F.col("inc_a") & ~F.col("inc_b")).select("id_a", "id_b")
    delta_labels = connected_components(b2i_c.unionByName(b2b))

    nodes = delta_labels.join(base.select("id", "inc"), "id")
    enriched = nodes.join(
        comp_sizes,
        (nodes.id == comp_sizes.cs_comp) & nodes.inc,
        "left",
    )
    out = enriched.groupBy("component").agg(
        F.count(F.when(~F.col("inc"), 1)).cast("long").alias("n_new_members"),
        F.coalesce(
            F.sum(F.when(F.col("inc"), F.coalesce(F.col("n"), F.lit(1)))),
            F.lit(0),
        ).cast("long").alias("n_incumbent_members"),
        F.count(F.when(F.col("inc"), 1)).cast("long").alias("n_merged_components"),
    ).localCheckpoint(eager=True)
    base.unpersist()
    return out


# --- winnowing fingerprints (MOSS) -----------------------------------------

#: winnowing parameters: token k-gram width and guarantee window
#: (Schleimer/Wilkerson/Aiken, SIGMOD'03 §4). Any shared token run of
#: length >= _WINNOW_W + _WINNOW_K - 1 = 7 is guaranteed to share at
#: least one selected fingerprint.
_WINNOW_K, _WINNOW_W = 4, 4

#: the toks→grams→window-min→selected-fingerprints CTE chain, shared by
#: the pair query and the winnowed decontamination audit.
_WINNOW_SEL_CTES = f"""
    toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    gr AS (
      SELECT doc_id,
             unnest(range(1, len(toks) - {_WINNOW_K - 2})) AS pos,
             unnest(list_transform(range(1, len(toks) - {_WINNOW_K - 2}),
               i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                  toks[i+3])))) AS h
      FROM toks_t WHERE len(toks) >= {_WINNOW_K}
    ),
    win AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY doc_id) AS m,
             min(h || lpad(CAST(9999999999 - pos AS VARCHAR), 10, '0'))
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
               AS selkey
      FROM gr
    ),
    sel AS (
      SELECT DISTINCT doc_id, substr(selkey, 1, 32) AS fp
      FROM win WHERE pos >= least({_WINNOW_W}, m)
    )"""


def _winnowed_sel(docs):
    """Spark side of `_WINNOW_SEL_CTES`: the DISTINCT (doc_id, fp)
    winnowing selection — computed entirely MAP-SIDE (r12).

    Winnowing is a pure per-doc function of the token array, so the r9
    explode → doc_id exchange → per-doc sort → sliding window → distinct
    pipeline paid one occurrence-sized shuffle, a per-doc sort and a
    second (doc_id, fp) distinct exchange for work the row itself can
    do: the selkey ARRAY materializes in its own projection (the opt-8
    discipline — lambdas capture only the `toks`/`sk` attributes, never
    an expensive subtree), the w-wide sliding min at position p is
    `least(sk[p], sk[p-1], …, sk[p-w+1])` with indices clamped to 1
    (the clamp duplicates elements, which is min-neutral, and exactly
    reproduces the whole-sequence window of a short doc), the partial
    prefix is masked by starting the output sequence at least(w, m),
    and `array_distinct` gives the per-doc distinct set — which IS the
    global distinct because doc_id rides every row. Selection equality
    with the window form pinned row-for-row at sf0.01, ×10 (992,554
    rows) and ×100 (9,928,665 rows); paired ×100 5.0–6.3 → 3.0–3.8 s
    (−40 %), ×10 ~1.1 → ~0.97 s. Fingerprint traffic downstream is
    unchanged: ~2/(w+1) of gram positions.

    Assumes unique ``doc_id``s, as in ``documents``: two rows sharing
    one would each emit a selection, duplicating (doc_id, fp). Memory is
    unbounded per row: the selkey array holds tokens − k + 1 42-char
    strings, ~56 B each in Spark's array layout (~5.6 MB for a
    100k-token document), beside the token array."""
    from .text.analysis import tokenize

    k, w = _WINNOW_K, _WINNOW_W
    toks = (
        docs.select("doc_id", tokenize(F.lower(F.col("text"))).alias("toks"))
        .filter(F.size("toks") >= k)
    )
    m = F.size("toks") - (k - 1)
    sk = F.transform(
        F.sequence(F.lit(1), m),
        lambda pos: F.concat(
            F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at("toks", pos + i) for i in range(k)],
                )
            ),
            F.lpad((F.lit(9999999999) - pos).cast("string"), 10, "0"),
        ),
    )
    with_sk = toks.select("doc_id", F.size("toks").alias("n"), sk.alias("sk"))
    m2 = F.col("n") - (k - 1)

    def _at(pos_expr):
        return F.element_at("sk", F.greatest(pos_expr, F.lit(1)))

    sel_arr = F.array_distinct(
        F.transform(
            F.sequence(F.least(F.lit(w), m2), m2),
            lambda pos: F.substring(
                F.least(*[_at(pos - j) for j in range(w)]), 1, 32
            ),
        )
    )
    return with_sk.select("doc_id", F.explode(sel_arr).alias("fp"))


@register(
    "winnowing_fingerprint_pairs",
    f"""
    WITH {_WINNOW_SEL_CTES},
    grp AS (
      SELECT fp, list_sort(list(doc_id)) AS ids
      FROM sel GROUP BY fp
      HAVING count(*) BETWEEN 2 AND 10
    ),
    pairs AS (
      SELECT a AS id_a, b AS id_b, count(*) AS n_shared_fps
      FROM (SELECT unnest(ids) AS a, ids FROM grp) g,
           LATERAL (SELECT unnest(list_filter(ids, x -> x > a)) AS b) t
      GROUP BY a, b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(n_shared_fps AS BIGINT) AS n_shared_fps
    FROM pairs WHERE n_shared_fps >= 2
    ORDER BY n_shared_fps DESC, id_a, id_b LIMIT 50
    """,
    tags=("text", "X2", "dedup", "fingerprint", "winnowing"),
)
def winnowing_fingerprint_pairs(spark, sf_dir):
    """Winnowing document fingerprints (MOSS; Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every token k-gram (k=4), then in each sliding
    window of w=4 consecutive hashes SELECT the minimum (ties →
    rightmost), dedup selections, and rank doc pairs by shared selected
    fingerprints. The selection rule is the whole point vs
    `verbatim_overlap_pairs` (which joins EVERY window hash): winnowing
    keeps an expected 2/(w+1) ≈ 40% of positions yet still guarantees a
    shared fingerprint for any verbatim run of ≥ w+k−1 = 7 tokens — the
    published local-sampling answer to "substring dedup without storing
    every window" at corpus scale.

    Engine/oracle hash parity matters here in a way it does not for
    verbatim overlap: the selected SUBSET depends on hash ORDER, not
    just equality, so both lanes min over the same md5-hex keyspace
    (the minhash precedent) — an engine-side xxhash64 would select a
    different (equally valid) fingerprint family and break the value
    check. The rightmost tie rule rides the key itself:
    min(h || zero-padded (10^10−1−pos)) picks the smallest hash and,
    within equal hashes, the largest position — one window-min, no
    second pass.

    Scale shape: one exchange keys doc_id for the ordered winnow window
    (per-doc state = w hashes; docs are bounded); partial windows are
    masked (pos ≥ least(w, m)) so only full windows select, except
    short docs where the single whole-sequence window keeps the ≥1
    fingerprint guarantee. Downstream traffic is the winnowed subset
    only; the pair expansion is ubiquity-capped (2–10 docs per
    fingerprint) exactly like verbatim overlap."""
    docs = _t(spark, sf_dir, "documents")
    sel = _winnowed_sel(docs)
    grp = (
        sel.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= 10))
    )
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter("ids", lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grp.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.id_a").cast("bigint").alias("id_a"),
            F.col("p.id_b").cast("bigint").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 2)
        .orderBy(F.col("n_shared_fps").desc(), "id_a", "id_b")
        .limit(50)
    )

#: winnowing_decontamination's size-aware probe policy: at or below this
#: many eval-side (doc_id, fp) rows (a provable bound on the distinct
#: eval fps) the train side probes a BROADCAST eval-fp set map-side;
#: above it the spillable fp-shuffle join. 32-hex fps → ~60 B/row
#: hashed-relation footprint at the bound, the
#: MINHASH_BROADCAST_MAX_PAIRS sizing discipline.
WINNOW_EVAL_BROADCAST_MAX_FPS = 2_000_000


@register(
    "winnowing_decontamination",
    f"""
    WITH {_WINNOW_SEL_CTES},
    tagged AS (
      SELECT doc_id,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ),
    train_fps AS (
      SELECT DISTINCT s.fp
      FROM sel s JOIN tagged g ON s.doc_id = g.doc_id
      WHERE g.split = 'train'
    ),
    eval_sel AS (
      SELECT s.doc_id, s.fp
      FROM sel s JOIN tagged g ON s.doc_id = g.doc_id
      WHERE g.split = 'eval'
    ),
    per_doc AS (
      SELECT e.doc_id,
             count(*) AS n_fps,
             count(*) FILTER (WHERE t.fp IS NOT NULL) AS n_hit
      FROM eval_sel e LEFT JOIN train_fps t ON e.fp = t.fp
      GROUP BY e.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_fps AS BIGINT) AS n_fps,
           CAST(n_hit AS BIGINT) AS n_hit,
           round(CAST(n_hit AS DOUBLE) / n_fps, 4) AS contamination
    FROM per_doc WHERE n_hit > 0
    ORDER BY contamination DESC, doc_id LIMIT 100
    """,
    tags=("text", "X2", "dedup", "winnowing", "decontamination", "split"),
)
def winnowing_decontamination(spark, sf_dir, _lazy=False):
    """Train→eval decontamination audit on WINNOWED fingerprints: for
    every held-out document (the md5 ≥'cd' tail of the house split),
    the fraction of its selected winnowing fingerprints that also
    appear anywhere in the train split. Sits between
    `cross_split_contamination` (whole-doc exact hash — misses partial
    copying entirely) and `eval_window_decontamination` (EVERY 8-token
    window — the full-cost sliding audit): winnowing's guarantee means
    any shared verbatim run of ≥ w+k−1 = 7 tokens still surfaces, at
    ~2/(w+1) ≈ 40% of the fingerprint volume — the published way to
    keep a contamination audit affordable when the eval suite is
    large and the corpus is 100 TB.

    Scale shape (rewritten r10 — the r9 form was one of the two lanes
    over the 2× gate at ×100, 16.6 s vs 7.8 s): the split tag is a
    doc_id-only predicate, so Catalyst pushes it BELOW the winnow
    window and each branch winnows only its own split. The r9 plan
    then DISTINCTed the TRAIN side's fingerprints (an 80%-of-corpus fp
    shuffle) and shuffle-joined eval against it — both big-side
    exchanges grew with the corpus (exponent 0.81). The eval split is
    the SMALL side by construction (a real eval suite is KB–MB; here
    the md5 20% tail), so the probe now runs band-index style
    (`minhash_incremental_admission`'s shape): materialize the slim
    eval (doc_id, fp) relation once (persist + count — the size-aware
    policy, `MINHASH_BROADCAST_MAX_PAIRS` precedent), BROADCAST its
    distinct fps, left-semi probe the train winnow against it (map-side
    — the 80% side is never shuffled), map-side-combine the matched
    fps to the ≤|eval-fp| hit set, and broadcast that back onto the
    cached eval rows. The only corpus-scaled exchanges left are the
    winnow windows themselves; everything fp-keyed is eval-bounded.
    Above the broadcast bound the r9 shuffle-join form is kept
    (spillable, still correct). Output is eval-doc-bounded, top-100 via
    TakeOrderedAndProject; ×100 measured 16.6 → 10.0 s (0.27× the
    DuckDB rerun; exponent 0.81 → 0.39), ×300 24.7 s vs 51.9 s."""
    docs = _t(spark, sf_dir, "documents")
    sel = _winnowed_sel(docs)
    split_is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    tagged = sel.withColumn("split", split_is_train)
    train_sel = tagged.filter(F.col("split")).select("fp")
    eval_sel = (
        tagged.filter(~F.col("split")).select("doc_id", "fp").persist()
    )
    try:
        # The size policy's count() EXECUTES the full eval winnow pass
        # (persist alone is lazy) — under the `_lazy` plan-dump hook the
        # count is skipped and the broadcast branch pinned, so dumping
        # the plan stays execution-free (r10 ADVICE; the hook exists
        # precisely to avoid eager work).
        if _lazy or eval_sel.count() <= WINNOW_EVAL_BROADCAST_MAX_FPS:
            eval_fps = eval_sel.select("fp").distinct()
            hit_fps = (
                train_sel.join(F.broadcast(eval_fps), "fp", "leftsemi")
                .distinct()
                .withColumn("hit", F.lit(1))
            )
            joined = eval_sel.join(F.broadcast(hit_fps), "fp", "left")
        else:
            train_fps = (
                train_sel.distinct().withColumn("hit", F.lit(1))
            )
            joined = eval_sel.join(train_fps, "fp", "left")
        per_doc = joined.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.count("hit").alias("n_hit"),
        )
        out_lazy = (
            per_doc.filter(F.col("n_hit") > 0)
            .select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.col("n_fps").cast("bigint").alias("n_fps"),
                F.col("n_hit").cast("bigint").alias("n_hit"),
                pround(
                    F.col("n_hit") / F.col("n_fps").cast("double"), 4
                ).alias("contamination"),
            )
            .orderBy(F.col("contamination").desc(), "doc_id")
            .limit(100)
        )
        if _lazy:
            # plan-test hook (the bm25 precedent): hand the caller the
            # un-checkpointed plan AND the persisted eval relation so it
            # can unpersist after reading the plan
            return out_lazy, eval_sel
        # ≤100 rows — eagerly materialize so the cache can release now
        return out_lazy.localCheckpoint(eager=True)
    finally:
        if not _lazy:
            eval_sel.unpersist()


#: eval-suite snapshot boundary for the incremental decontamination
#: audit: the house split's eval tail (md5 two-hex ≥ 'cd') VERSIONED as
#: a growing suite — snapshot v1 is ['cd', 'e8'), v2 adds ['e8', 'ff'].
_EVAL_V1_HI = "e8"


def _incr_decon_oracle() -> str:
    return f"""
    WITH {_WINNOW_SEL_CTES},
    tg AS (
      SELECT doc_id, fp,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b2
      FROM sel
    ),
    train_fps AS (SELECT DISTINCT fp FROM tg WHERE b2 < 'cd'),
    ev AS (SELECT doc_id, fp, b2 FROM tg WHERE b2 >= 'cd'),
    per_doc AS (
      SELECT e.doc_id, max(e.b2) AS b2,
             count(*) AS n_fps, count(t.fp) AS n_hit
      FROM ev e LEFT JOIN train_fps t ON e.fp = t.fp
      GROUP BY e.doc_id
    ),
    summary AS (
      SELECT 'v1' AS version, count(*) AS n_eval_docs,
             coalesce(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END), 0)
               AS n_contaminated,
             coalesce(sum(n_fps), 0) AS n_fps,
             coalesce(sum(n_hit), 0) AS n_hits,
             round(max(CAST(n_hit AS DOUBLE) / n_fps), 4)
               AS max_contamination
      FROM per_doc WHERE b2 < '{_EVAL_V1_HI}'
      UNION ALL
      SELECT 'v2', count(*),
             coalesce(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END), 0),
             coalesce(sum(n_fps), 0), coalesce(sum(n_hit), 0),
             round(max(CAST(n_hit AS DOUBLE) / n_fps), 4)
      FROM per_doc
    )
    SELECT version, CAST(n_eval_docs AS BIGINT) AS n_eval_docs,
           CAST(n_contaminated AS BIGINT) AS n_contaminated,
           CAST(n_fps AS BIGINT) AS n_fps,
           CAST(n_hits AS BIGINT) AS n_hits, max_contamination
    FROM summary ORDER BY version
    """


@register(
    "incremental_eval_decontamination", _incr_decon_oracle(),
    tags=("text", "X2", "dedup", "winnowing", "decontamination",
          "incremental", "versioning"),
)
def incremental_eval_decontamination(spark, sf_dir):
    """Cross-snapshot INCREMENTAL decontamination (r10 verdict #9b —
    eval-set versioning over the winnowing probe): an eval suite grows
    between releases (snapshot v1 = the md5 ['cd','e8') slice, v2 adds
    ['e8','ff']); the audit for v2 must not re-scan the docs v1 already
    audited. The engine maintains the audit incrementally — the stored
    v1 per-doc result (an eagerly checkpointed, eval-bounded relation:
    the stand-in for last release's persisted audit) is UNIONED with a
    probe of only the DELTA docs, and both snapshot summaries are
    rolled up from per-doc rows. The oracle computes BOTH versions from
    scratch, so a hash match proves the incremental maintenance
    equivalent to recomputation — the streaming-admission pattern
    applied to eval drift.

    Scale shape: the per-version probes are the winnowing band-index
    shape (delta fps BROADCAST, train side probed left-semi map-side,
    never shuffled on fp); the incremental step's cost is bounded by
    the SNAPSHOT DELTA, not the suite — at 100 TB with a stable eval
    suite the recurring audit cost is the new docs only. Train side
    (md5 < 'cd') is fixed across versions, as a release train is."""
    docs = _t(spark, sf_dir, "documents")
    sel = _winnowed_sel(docs)
    b2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    tagged = sel.withColumn("b2", b2)
    train_fps = tagged.filter(F.col("b2") < "cd").select("fp").distinct()

    def probe(ev):
        """per-doc (doc_id, n_fps, n_hit) for one eval slice: slice fps
        broadcast into a left-semi probe of the train winnow."""
        ev = ev.select("doc_id", "fp")
        hit_fps = (
            train_fps.join(
                F.broadcast(ev.select("fp").distinct()), "fp", "leftsemi"
            )
            .withColumn("hit", F.lit(1))
        )
        return (
            ev.join(F.broadcast(hit_fps), "fp", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_fps"),
                F.count("hit").alias("n_hit"),
            )
        )

    v1_doc = probe(
        tagged.filter((F.col("b2") >= "cd") & (F.col("b2") < _EVAL_V1_HI))
    ).localCheckpoint(eager=True)  # last release's stored audit
    delta_doc = probe(tagged.filter(F.col("b2") >= _EVAL_V1_HI))
    v2_doc = v1_doc.unionByName(delta_doc)

    def summarize(df, ver):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_docs"),
            F.coalesce(
                F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0)),
                F.lit(0),
            ).cast("bigint").alias("n_contaminated"),
            F.coalesce(F.sum("n_fps"), F.lit(0)).cast("bigint")
            .alias("n_fps"),
            F.coalesce(F.sum("n_hit"), F.lit(0)).cast("bigint")
            .alias("n_hits"),
            pround(
                F.max(F.col("n_hit") / F.col("n_fps").cast("double")), 4
            ).alias("max_contamination"),
        ).select(F.lit(ver).alias("version"), "*")

    return (
        summarize(v1_doc, "v1")
        .unionByName(summarize(v2_doc, "v2"))
        .orderBy("version")
    )


# ---------------------------------------------------------------------------
# round-9 (late session) registry growth: published quality-rule sets,
# perplexity bucketing, soft dedup, contamination span profiling
# ---------------------------------------------------------------------------

#: Gopher rule constants (Rae et al. 2021, "Scaling Language Models",
#: Table A1 doc-filter thresholds), shared by both lanes. The two
#: line-level rules (duplicate-line fraction, bullet/ellipsis line
#: starts) are omitted: this corpus has no newlines, so they would be
#: constant-true — the rule table extends, not the plan, when a corpus
#: with lines arrives.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MAX_SYMBOL_RATIO = 0.1
_GOPHER_MIN_ALPHA_FRAC = 0.80
_GOPHER_MIN_STOPS = 2
_GOPHER_MAX_TOP2GRAM_FRAC = 0.20


def _gopher_rules_ctes(src: str = "documents") -> str:
    """CTE chain ``t → feats → bg → bgc → top → rules`` over ``src``:
    per-doc Gopher features, the top-bigram election, and the six rule
    booleans at (doc_id, source) grain. Shared by the registered
    per-source audit and the published-pipeline composition (which
    instantiates it on the deduped relation)."""
    stops = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    return f"""t AS (
      SELECT doc_id, source, coalesce(text, '') AS txt, {_TOKS} AS toks
      FROM {src}
    ),
    feats AS (
      SELECT doc_id, source,
             len(toks) AS n_words,
             length(regexp_replace(txt, '[ \\t\\n\\x0b\\f\\r]', '', 'g')) AS n_wchars,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
             len(list_distinct(list_intersect(toks, [{stops}]))) AS n_stops,
             len(regexp_extract_all(txt, '\\.\\.\\.|…|#')) AS n_symbols,
             CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                  ELSE list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i+1])
             END AS bigrams
      FROM t
    ),
    bg AS (SELECT doc_id, unnest(bigrams) AS b FROM feats),
    bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
    top AS (
      SELECT doc_id, b, c FROM (
        SELECT doc_id, b, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, b) AS rn
        FROM bgc
      ) WHERE rn = 1
    ),
    rules AS (
      SELECT f.doc_id, f.source,
             (f.n_words < {_GOPHER_MIN_WORDS}
              OR f.n_words > {_GOPHER_MAX_WORDS}) AS fail_word_count,
             (f.n_words = 0
              OR f.n_wchars / CAST(f.n_words AS DOUBLE) < {_GOPHER_MIN_MWL}
              OR f.n_wchars / CAST(f.n_words AS DOUBLE) > {_GOPHER_MAX_MWL})
               AS fail_mean_word_len,
             (f.n_words = 0
              OR f.n_symbols / CAST(f.n_words AS DOUBLE)
                 > {_GOPHER_MAX_SYMBOL_RATIO}) AS fail_symbol_ratio,
             (f.n_words = 0
              OR f.n_alpha_words / CAST(f.n_words AS DOUBLE)
                 < {_GOPHER_MIN_ALPHA_FRAC}) AS fail_alpha_words,
             (f.n_stops < {_GOPHER_MIN_STOPS}) AS fail_stopword,
             (coalesce(t.c * length(t.b), 0) / CAST(nullif(f.n_wchars + len(f.bigrams), 0) AS DOUBLE)
                 > {_GOPHER_MAX_TOP2GRAM_FRAC}) AS fail_top_bigram
      FROM feats f LEFT JOIN top t USING (doc_id)
    )"""


def _gopher_oracle() -> str:
    return f"""
    WITH {_gopher_rules_ctes()}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN fail_word_count THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
           CAST(sum(CASE WHEN fail_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(CASE WHEN fail_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(CASE WHEN fail_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_words,
           CAST(sum(CASE WHEN fail_stopword THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
           CAST(sum(CASE WHEN fail_top_bigram THEN 1 ELSE 0 END) AS BIGINT) AS fail_top_bigram,
           CAST(sum(CASE WHEN NOT (fail_word_count OR fail_mean_word_len
                          OR fail_symbol_ratio OR fail_alpha_words
                          OR fail_stopword OR fail_top_bigram)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(sum(CASE WHEN NOT (fail_word_count OR fail_mean_word_len
                          OR fail_symbol_ratio OR fail_alpha_words
                          OR fail_stopword OR fail_top_bigram)
                     THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS pass_rate
    FROM rules GROUP BY source
    """


@register(
    "gopher_quality_rules", _gopher_oracle(),
    tags=("text", "X4", "quality", "curation", "gopher"),
)
def gopher_quality_rules(spark, sf_dir):
    """The GOPHER document-quality rule set (Rae et al. 2021, Table A1 —
    the published filter battery MassiveWeb/RefinedWeb-class pipelines
    run), evaluated per rule per source: word-count bounds [50, 100k],
    mean word length [3, 10], symbol-to-word ratio (# / ellipsis) ≤ 0.1,
    ≥80% of words containing an alphabetic character, the ≥2-distinct-
    stop-words rule, and the repetition rule — fraction of characters
    claimed by the most frequent word 2-gram ≤ 0.20. Unlike
    `quality_gate_summary` (first-failing-rule attribution on 3 in-house
    thresholds), this reports every rule's independent failure count —
    the per-rule audit a curation run publishes before picking which
    rules to enable.

    Scale shape: five of six rules are pure map-side string/array
    expressions folded into the scan. Only the repetition rule
    aggregates: per-doc bigram counts (explode → count) then one
    row_number window over the COUNTED relation (bigram-distinct per
    doc, already far smaller than the occurrence stream) with a
    deterministic (count DESC, bigram ASC) tie-break; the per-source
    rollup is a 20-row aggregate. Nothing is driver-side; adding a rule
    extends the projection, not the plan. The top-bigram char fraction
    denominator is the doc's whitespace-free char count + (n_words−1)
    separators — i.e. the canonical single-space render both engines
    agree on, independent of raw whitespace runs.

    Listing measurement (×10 sweep-before-listing): first cut read
    23.2 s — a higher-order `transform` bigram lambda (7.7 s vs 1.3 s
    for the `arrays_zip` + post-explode concat idiom heldout_bigram
    pinned) AND the rules join shuffling the full bigram ARRAY column
    when only its length is needed. Now the explode is zip-based and
    the join side carries scalars only (`n_bigrams` = n_words−1)."""
    rules = _gopher_rules_df(_t(spark, sf_dir, "documents"))
    fails = [
        "fail_word_count", "fail_mean_word_len", "fail_symbol_ratio",
        "fail_alpha_words", "fail_stopword", "fail_top_bigram",
    ]
    all_pass = ~fails_or(fails)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    aggs += [
        F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint").alias(c)
        for c in fails
    ]
    aggs += [
        F.sum(F.when(all_pass, 1).otherwise(0)).cast("bigint").alias("n_pass"),
        pround(
            F.sum(F.when(all_pass, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("pass_rate"),
    ]
    return rules.groupBy("source").agg(*aggs)


def _gopher_rules_df(docs):
    """Spark lane of :func:`_gopher_rules_ctes`: the six Gopher rule
    booleans at (doc_id, source) grain over any documents-shaped
    relation. Map-side projections plus the repetition rule's
    zip-explode/count/window; the rules join carries scalars only."""
    from .text.analysis import tokenize

    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = tokenize(F.lower(txt))
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    feats = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_words"),
        F.length(F.regexp_replace(txt, r"\s", "")).alias("n_wchars"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).alias("n_alpha_words"),
        F.size(F.array_distinct(F.array_intersect(toks, stop_arr))).alias("n_stops"),
        F.regexp_count(txt, F.lit(r"\.\.\.|…|#")).alias("n_symbols"),
        F.greatest(F.size(toks) - 1, F.lit(0)).alias("n_bigrams"),
    )
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(toks, 1, n1).alias("b1"), F.slice(toks, 2, n1).alias("b2")
    )
    bgc = (
        docs.select("doc_id", F.explode(zipped).alias("p"))
        .select("doc_id", F.concat_ws(" ", "p.b1", "p.b2").alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # (c DESC, b ASC) argmax as min(struct(-c, b)) — the ivf modal idiom
    # (r12): a partial-aggregable HashAggregate replaces Sort +
    # WindowGroupLimit + Window on the same doc_id exchange, so the
    # shuffle carries ONE partial row per (partition, doc) instead of
    # every distinct bigram through a sort. Outputs pinned identical at
    # sf0.01/×10/×100 (tools notes in OPTIMIZATION_r12.md).
    top = (
        bgc.groupBy("doc_id")
        .agg(
            F.min(F.struct((-F.col("c")).alias("negc"), F.col("b"))).alias("t")
        )
        .select("doc_id", F.col("t.b").alias("b"), (-F.col("t.negc")).alias("c"))
    )
    mwl = F.col("n_wchars") / F.col("n_words").cast("double")
    top_frac = F.coalesce(F.col("c") * F.length("b"), F.lit(0)) / F.nullif(
        F.col("n_wchars") + F.col("n_bigrams"), F.lit(0)
    ).cast("double")
    return feats.join(top, "doc_id", "left").select(
        "doc_id",
        "source",
        (
            (F.col("n_words") < _GOPHER_MIN_WORDS)
            | (F.col("n_words") > _GOPHER_MAX_WORDS)
        ).alias("fail_word_count"),
        (
            (F.col("n_words") == 0)
            | (mwl < _GOPHER_MIN_MWL)
            | (mwl > _GOPHER_MAX_MWL)
        ).alias("fail_mean_word_len"),
        (
            (F.col("n_words") == 0)
            | (F.col("n_symbols") / F.col("n_words").cast("double")
               > _GOPHER_MAX_SYMBOL_RATIO)
        ).alias("fail_symbol_ratio"),
        (
            (F.col("n_words") == 0)
            | (F.col("n_alpha_words") / F.col("n_words").cast("double")
               < _GOPHER_MIN_ALPHA_FRAC)
        ).alias("fail_alpha_words"),
        (F.col("n_stops") < _GOPHER_MIN_STOPS).alias("fail_stopword"),
        (top_frac > _GOPHER_MAX_TOP2GRAM_FRAC).alias("fail_top_bigram"),
    )


def fails_or(cols):
    """OR-fold a list of boolean column names (shared by the Gopher gate
    lanes so the pass predicate is derived from the same rule list)."""
    out = F.col(cols[0])
    for c in cols[1:]:
        out = out | F.col(c)
    return out


#: memo for the per-corpus bigram-MLE scored relation (r10 verdict #1):
#: the one-pass scoring job is the residual cost of the CCNet tercile
#: audit (tercile cut itself measured FREE) and is recomputed by the
#: published-pipeline composition on the same corpus. The value is the
#: SLIM (doc_id, score) relation — two columns, one row per ≥2-token
#: doc — the same class as the removal-closure id set.
_CCNET_SCORED_MEMO = VersionCache("ccnet_scored", 4)


def clear_ccnet_scored_memo() -> None:
    """Release every memoized scored-relation checkpoint (tests)."""
    from .operators.ranks import release_rank_cache

    _CCNET_SCORED_MEMO.clear(release_rank_cache)


def _ccnet_scored_df(spark, docs, memo: bool = True):
    """Spark lane of :func:`_ccnet_scored_ctes`: per-doc bigram-MLE
    score over any documents-shaped relation, in the one-pass cells +
    shared-window shape (arrays_zip bigrams, ONE occurrence shuffle to
    per-doc (hb, hb1) cells, both global counts as window sums on the
    hb1-compatible exchange; xxhash64 keys — MLE counts only need key
    equality). Repeat calls on the same corpus relation return the
    memoized checkpointed (doc_id, score) relation (see
    `_CCNET_SCORED_MEMO`; ``memo=False`` forces a fresh computation)."""
    from .text.analysis import tokenize

    def _compute():
        from .io.readers import spread

        toks = tokenize(F.lower(F.col("text")))
        n1 = F.greatest(F.size(toks) - 1, F.lit(0))
        zipped = F.arrays_zip(
            F.slice(toks, 1, n1).alias("b1"),
            F.slice(toks, 2, n1).alias("b2"),
        )
        # r12: spread() instead of an unconditional repartition — same
        # keyed spread-up for a narrow scan (bench-neutral, A/B'd a wash
        # at ×10 and ×100, outputs identical), but a corpus that already
        # scans wide keeps its natural partitioning instead of paying a
        # raw-TEXT shuffle before the explode (§2.3: never shuffle the
        # payload to parallelize map work it already has).
        cells = (
            spread(docs.select("doc_id", "text"), "doc_id")
            .select("doc_id", F.explode(zipped).alias("p"))
            .groupBy(
                F.xxhash64("p.b1", "p.b2").alias("hb"),
                F.xxhash64("p.b1").alias("hb1"),
                F.col("doc_id"),
            )
            .agg(F.count(F.lit(1)).alias("k"))
        )
        w_b = W.partitionBy("hb1", "hb")
        w_p = W.partitionBy("hb1")
        return (
            cells.withColumn("c", F.sum("k").over(w_b))
            .withColumn("cp", F.sum("k").over(w_p))
            .groupBy("doc_id")
            .agg(
                pround(
                    F.sum(
                        F.col("k")
                        * pround(
                            F.log(F.col("c") / F.col("cp").cast("double")),
                            8,
                        )
                    )
                    / F.sum("k"),
                    6,
                ).alias("score")
            )
        )

    if memo:
        return _CCNET_SCORED_MEMO.get_or_compute(
            spark, relation_version(docs),
            lambda: _compute().localCheckpoint(eager=True),
        )
    return _compute()


def _ccnet_scored_ctes(src: str = "documents") -> str:
    """CTE chain ``ctoks → cbg → ccnt → cpre → scored`` over ``src``:
    the corpus bigram MLE fit on ``src`` itself and each of its docs'
    mean conditional log-prob (8dp per-bigram, 6dp per-doc — the libm
    anchor discipline) as ``scored(doc_id, score)``. Docs with <2
    tokens have no bigrams and no score row. Shared by the registered
    tercile audit and the published-pipeline composition."""
    return f"""ctoks AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
    cbg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b,
             unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS b1
      FROM ctoks
    ),
    ccnt AS (SELECT b, count(*) AS c FROM cbg GROUP BY b),
    cpre AS (SELECT b1, count(*) AS cp FROM cbg GROUP BY b1),
    scored AS (
      SELECT g.doc_id,
             round(sum(round(ln(c.c / CAST(p.cp AS DOUBLE)), 8)) / count(*), 6)
               AS score
      FROM cbg g JOIN ccnt c USING (b) JOIN cpre p USING (b1)
      GROUP BY g.doc_id
    )"""


@register(
    "ccnet_perplexity_buckets",
    f"""
    WITH {_ccnet_scored_ctes()},
    ranked AS (
      SELECT t.lang, s.score,
             row_number() OVER (PARTITION BY t.lang
                                ORDER BY s.score DESC, s.doc_id) AS rn,
             count(*) OVER (PARTITION BY t.lang) AS n
      FROM scored s JOIN documents t USING (doc_id)
    ),
    bucketed AS (
      SELECT lang, score,
             CASE WHEN rn * 3 <= n THEN 'head'
                  WHEN rn * 3 <= 2 * n THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 4) AS avg_logprob,
           round(min(score), 4) AS min_logprob,
           round(max(score), 4) AS max_logprob
    FROM bucketed GROUP BY lang, bucket
    """,
    tags=("text", "X4", "quality", "lm", "curation", "ccnet"),
)
def ccnet_perplexity_buckets(spark, sf_dir, _lazy=False):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    LANGUAGE, documents ranked by language-model score and cut into
    head / middle / tail terciles — the curation primitive CCNet-class
    pipelines use to keep the fluent third of each language and drop or
    down-weight the tail. The LM is the engine's corpus bigram MLE
    (`bigram_logprob_score`'s relation): score = mean conditional token
    log-probability; higher = lower perplexity = head.

    Determinism across engines: each per-bigram ln(c/cp) is rounded at
    8dp BEFORE summing and the per-doc mean at 6dp before ranking (the
    `logistic_purchase_model` libm-anchor discipline — both engines
    evaluate ln on identical rationals, so 8dp absorbs the ≤1-ulp libm
    divergence), and the tercile rank orders by (rounded score DESC,
    doc_id) so ties cut identically. Tercile boundaries are the exact
    row_number thirds (rn·3 ≤ n | ≤ 2n), not ntile(), so the rule is
    one integer comparison both engines share. Docs with <2 tokens have
    no bigrams and are excluded (no LM evidence — both lanes).

    Scale shape (rewritten at its ×10 listing measurement, 11.9 →
    ~3 s): the first cut paid TWO occurrence-level count shuffles plus
    two occurrence-sized scoring joins, and rebuilt the bigram array
    through an interpreted higher-order lambda for each of its three
    consumers. It now runs `heldout_bigram_fit_by_source`'s one-pass
    shape: `arrays_zip` bigrams (codegen), ONE occurrence shuffle to
    per-doc (hb, hb1) cells with map-side combine, and both global
    counts as window sums sharing the hb1-compatible exchange — every
    relation after the cells is (doc × distinct-bigram)-sized, and
    bigram strings never leave the map stage (xxhash64 keys; MLE
    counts only need key equality).

    The tercile cut itself (rewritten r10 — the r9 form was 2.2× at
    ×100): the OUTPUT only aggregates per (lang, bucket), and within
    one score value every doc is interchangeable — the (score DESC,
    doc_id) tiebreak decides WHICH tied docs land in head, never the
    bucket COUNTS or the score min/avg/max. So the per-doc ranking
    window (a full per-language sort of doc rows) is replaced by exact
    COUNT arithmetic on per-(lang, score) CELLS: one map-side-combined
    aggregate to (lang, score, cnt), a per-language cumulative window
    over the CELL relation, and closed-form clamp arithmetic splitting
    each boundary cell's count across buckets (head gets
    clamp(⌊n/3⌋ − cum_before, 0, cnt), etc. — exactly row_number's
    prefix rule). The only per-language serial step is now the cell
    cumsum, bounded by min(docs, score domain) — 6dp scores cap the
    domain at a few million VALUES regardless of corpus size, where
    the r9 window sorted every document row."""
    docs = _t(spark, sf_dir, "documents")
    # `_lazy` (plan-dump hook): skip the memo so the dumped plan shows
    # the full scoring shape instead of a checkpoint scan, and nothing
    # executes. The registered path memoizes: the scored relation is the
    # lane's entire residual cost (r10 profile) and is shared with the
    # published-pipeline composition on the same corpus.
    scored = _ccnet_scored_df(spark, docs, memo=not _lazy)
    cells = (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "score")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_lang = W.partitionBy("lang")
    w_cum = w_lang.orderBy(F.col("score").desc())
    sized = cells.select(
        "lang",
        "score",
        "cnt",
        F.sum("cnt").over(w_lang).alias("n"),
        (F.sum("cnt").over(w_cum) - F.col("cnt")).alias("cum_before"),
    )
    k1 = F.floor(F.col("n") / 3)
    k2 = F.floor(F.col("n") * 2 / 3)
    head = F.greatest(
        F.lit(0), F.least(k1 - F.col("cum_before"), F.col("cnt"))
    )
    mid = (
        F.greatest(
            F.lit(0), F.least(k2 - F.col("cum_before"), F.col("cnt"))
        )
        - head
    )
    tail = F.col("cnt") - head - mid
    buckets = (
        sized.select(
            "lang",
            "score",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("head").alias("bucket"), head.alias("k")
                    ),
                    F.struct(
                        F.lit("middle").alias("bucket"), mid.alias("k")
                    ),
                    F.struct(
                        F.lit("tail").alias("bucket"), tail.alias("k")
                    ),
                )
            ).alias("b"),
        )
        .select(
            "lang", "score",
            F.col("b.bucket").alias("bucket"),
            F.col("b.k").alias("k"),
        )
        .filter(F.col("k") > 0)
    )
    return buckets.groupBy("lang", "bucket").agg(
        F.sum("k").cast("long").alias("n_docs"),
        pround(
            F.sum(F.col("score") * F.col("k")) / F.sum("k").cast("double"),
            4,
        ).alias("avg_logprob"),
        pround(F.min("score"), 4).alias("min_logprob"),
        pround(F.max("score"), 4).alias("max_logprob"),
    )


@register(
    "soft_dedup_effective_tokens",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({{minhash}})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    cc AS (
      SELECT id, id AS comp FROM nodes
      UNION
      SELECT e.b AS id, c.comp FROM cc c JOIN edges e ON e.a = c.id
    ),
    labeled AS (SELECT id, min(comp) AS component FROM cc GROUP BY id),
    sizes AS (
      SELECT id, count(*) OVER (PARTITION BY component) AS csize
      FROM labeled
    ),
    toks_t AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(s.csize) AS BIGINT) AS n_clustered,
           CAST(sum(t.n_tok) AS BIGINT) AS raw_tokens,
           round(sum(t.n_tok / CAST(coalesce(s.csize, 1) AS DOUBLE)), 4)
             AS effective_tokens,
           round(sum(t.n_tok)
                 / nullif(sum(t.n_tok / CAST(coalesce(s.csize, 1) AS DOUBLE)), 0),
                 6) AS dup_inflation
    FROM toks_t t LEFT JOIN sizes s ON t.doc_id = s.id
    GROUP BY t.source
    """.format(minhash=_minhash_oracle().strip()),
    tags=("text", "X2", "dedup", "clusters", "curation", "soft-dedup"),
)
def soft_dedup_effective_tokens(spark, sf_dir):
    """SOFT deduplication — duplicate-aware DOWN-WEIGHTING instead of
    removal (the SoftDeDup alternative curation pipelines weigh against
    hard dropping: every member of a near-dup cluster keeps weight
    1/|cluster|, so the cluster contributes one document's worth of
    gradient mass while retaining intra-cluster diversity). Reports per
    source: raw vs EFFECTIVE token counts (Σ n_tok·w) and the resulting
    dup-inflation factor — the number a mixture designer needs to see
    how much of a source's apparent volume is duplicate mass
    (`post_dedup_mixture_rebalance` is the hard-removal counterpart
    fitting the sampling law on survivors; this one feeds the weighted
    variant).

    Scale shape: composes two green primitives — the MinHash-LSH pair
    relation (`text/dedup.minhash_near_dup_pairs`: banded signatures,
    fingerprint shuffles, size-aware verify join) and min-label
    connected components (`text/clusters`) — then one cluster-size
    window over the LABEL relation (cluster members only, ≪ corpus)
    and a broadcast-sized left join back onto per-doc token counts
    folded into the scan. The per-source rollup is partial-aggregable.
    Weights, not rows, change with the dup rate — output stays
    source-bounded. Oracle recomputes the closure with the recursive
    CTE and the same 1/|component| weights. r11: the pair+CC stage is
    the memoized :func:`near_dup_cluster_labels` relation — this lane
    paid its own full LSH+CC closure on every call before."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    cc = near_dup_cluster_labels(docs)
    sizes = cc.select(
        "id",
        F.count(F.lit(1)).over(W.partitionBy("component")).alias("csize"),
    )
    toks = docs.select(
        F.col("doc_id"), "source",
        F.size(tokenize(F.lower(F.col("text")))).alias("n_tok"),
    )
    w = F.col("n_tok") / F.coalesce(F.col("csize"), F.lit(1)).cast("double")
    return (
        toks.join(F.broadcast(sizes), toks.doc_id == sizes.id, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("csize").alias("n_clustered"),
            F.sum("n_tok").cast("bigint").alias("raw_tokens"),
            pround(F.sum(w), 4).alias("effective_tokens"),
            pround(
                F.sum("n_tok") / F.nullif(F.sum(w), F.lit(0.0)), 6
            ).alias("dup_inflation"),
        )
    )


@register(
    "contamination_span_lengths",
    f"""
    WITH toks_t AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'valid'
                  ELSE 'test' END AS split,
             {_TOKS} AS toks
      FROM documents
    ),
    wins AS (
      SELECT doc_id, split,
             unnest(range(1, len(toks) - 6)) AS i,
             unnest(list_transform(range(1, len(toks) - 6),
               i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                  toks[i+3], toks[i+4], toks[i+5],
                                  toks[i+6], toks[i+7])))) AS w_fp
      FROM toks_t WHERE len(toks) >= 8
    ),
    eval_fps AS (SELECT DISTINCT w_fp FROM wins WHERE split = 'test'),
    hits AS (
      SELECT w.doc_id, w.i
      FROM wins w JOIN eval_fps e USING (w_fp)
      WHERE w.split = 'train'
    ),
    islands AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM hits
    ),
    runs AS (
      SELECT doc_id, grp, count(*) AS run_len
      FROM islands GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             max(run_len) + 7 AS max_span_tokens,
             count(*) AS n_spans,
             sum(run_len) AS n_hit_windows
      FROM runs GROUP BY doc_id
    )
    SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
           t.source,
           CAST(p.max_span_tokens AS BIGINT) AS max_span_tokens,
           CAST(p.n_spans AS BIGINT) AS n_spans,
           CAST(p.n_hit_windows AS BIGINT) AS n_hit_windows
    FROM per_doc p JOIN toks_t t USING (doc_id)
    ORDER BY max_span_tokens DESC, doc_id LIMIT 20
    """,
    tags=("text", "X2", "decontamination", "sliding-window", "training"),
)
def contamination_span_lengths(spark, sf_dir):
    """Contamination SPAN profiling — the follow-up question after
    `eval_window_decontamination` flags a doc: HOW LONG is the verbatim
    overlap? Consecutive contaminated 8-token windows at positions
    i..i+k−1 witness a verbatim run of k+7 tokens, so per train doc this
    reports the maximum contaminated span, the number of distinct spans
    (islands), and total hit windows — the difference between an
    idiomatic 8-gram collision (span = 8, drop nothing) and a wholesale
    eval-answer embedding (span ≈ doc length, drop the doc). Top-20 by
    (max span, doc_id).

    Scale shape: window fingerprints keep their POSITION through the
    explode (the islands need i, so no per-doc distinct); the eval
    fingerprint set broadcasts exactly as in the decontamination audit,
    so the corpus-sized window stream meets it map-only and only HITS
    survive. The islands trick (i − row_number per doc) runs on the
    hit relation — contaminated-window-bounded, not corpus-bounded —
    and the rollup + top-20 is TakeOrderedAndProject. A clean corpus
    costs one broadcast-join scan and produces nothing."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "cd", "train").when(h2 < "e6", "valid").otherwise("test")
    )
    toks = docs.select(
        "doc_id",
        "source",
        split.alias("split"),
        tokenize(F.lower(F.col("text"))).alias("toks"),
    ).filter(F.size("toks") >= 8)
    idx = F.sequence(F.lit(1), F.size("toks") - 7)
    win = F.xxhash64(
        *[F.element_at("toks", F.col("i") + k) for k in range(8)]
    )
    wins = toks.select(
        "doc_id", "split", "toks", F.explode(idx).alias("i")
    ).select("doc_id", "split", "i", win.alias("w_fp"))
    eval_fps = (
        wins.filter(F.col("split") == "test").select("w_fp").distinct()
    )
    hits = (
        wins.filter(F.col("split") == "train")
        .join(F.broadcast(eval_fps), "w_fp")
        .select("doc_id", "i")
    )
    grp = F.col("i") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("i")
    )
    runs = (
        hits.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    per_doc = runs.groupBy("doc_id").agg(
        (F.max("run_len") + 7).cast("bigint").alias("max_span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("run_len").cast("bigint").alias("n_hit_windows"),
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source", "max_span_tokens", "n_spans", "n_hit_windows",
        )
        .orderBy(F.col("max_span_tokens").desc(), "doc_id")
        .limit(20)
    )


@register(
    "ngram_novelty_by_source",
    f"""
    WITH toks_t AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    fps AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(toks) - 6),
               i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                  toks[i+3], toks[i+4], toks[i+5],
                                  toks[i+6], toks[i+7]))))) AS fp
      FROM toks_t WHERE len(toks) >= 8
    ),
    ndocs AS (
      SELECT source, count(*) AS n_docs
      FROM toks_t WHERE len(toks) >= 8 GROUP BY source
    ),
    wintot AS (
      SELECT source, count(*) AS n_window_fps FROM fps GROUP BY source
    ),
    per_fp AS (
      SELECT fp, arg_min(source, doc_id) AS intro_source,
             count(*) AS n_docs_with_fp
      FROM fps GROUP BY fp
    ),
    intro AS (
      SELECT intro_source AS source,
             count(*) AS n_introduced,
             sum(CASE WHEN n_docs_with_fp = 1 THEN 1 ELSE 0 END)
               AS n_singletons,
             avg(n_docs_with_fp) AS spread
      FROM per_fp GROUP BY intro_source
    )
    SELECT n.source,
           CAST(n.n_docs AS BIGINT) AS n_docs,
           CAST(w.n_window_fps AS BIGINT) AS n_window_fps,
           CAST(coalesce(i.n_introduced, 0) AS BIGINT) AS n_introduced,
           CAST(coalesce(i.n_singletons, 0) AS BIGINT) AS n_singletons,
           ROUND(coalesce(i.n_introduced, 0) / w.n_window_fps, 6)
             AS novelty_rate,
           ROUND(i.spread, 4) AS docs_per_introduced_fp
    FROM ndocs n
    JOIN wintot w USING (source)
    LEFT JOIN intro i USING (source)
    ORDER BY source
    """,
    tags=("text", "X2", "dedup", "training", "novelty"),
)
def ngram_novelty_by_source(spark, sf_dir):
    """First-occurrence n-gram attribution — the corpus-level novelty
    audit behind "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., ACL'22): every distinct 8-token window is
    attributed to the document that INTRODUCES it (minimum doc_id over
    the docs containing it), and each source is scored on how much of
    its window mass is its own. Per source: docs audited, per-doc
    distinct window fingerprints, fingerprints this source introduced,
    introduced fingerprints seen nowhere else (singletons), the novelty
    rate (introduced / window mass), and the mean number of docs an
    introduced fingerprint spreads to — a crawl dump that mostly
    re-serves boilerplate shows low novelty and high spread, a curated
    source shows the opposite. Complements `eval_window_decontamination`
    (train↔eval direction) and `cross_source_dup_matrix` (pairwise
    volume) with the WHO-WAS-FIRST attribution neither answers.

    Scale shape: windows collapse per-doc BEFORE the explode
    (`array_distinct` on the map side), so the shuffled relation is
    per-doc distinct fingerprints, never raw positions; each token is
    hashed ONCE (`transform(toks, xxhash64)`) and windows combine the
    8 token hashes with a wrapping polynomial fold instead of
    re-hashing 8 strings per position — measured 2.3 s vs 8.5 s for
    the per-window `xxhash64(8 strings)` HOF on the ×10 replica (the
    r8 simhash lesson, same disease, smaller dose). Two aggregates
    only: doc counts AND window totals ride one source-keyed partial
    aggregate over the un-exploded per-doc relation
    (`sum(size(wfps))` — no second explode branch), and the
    attribution is ONE groupBy(fp) carrying `min_by(source, doc_id)`
    + count — no join back to the window stream, so nothing
    corpus-sized is joined or re-shuffled. The final join is
    source-cardinality (KB). Both lanes fingerprint their own keyspace
    (token-hash polynomial here, md5 window strings in the oracle);
    attribution equality holds absent intra-keyspace collisions — the
    same documented assumption as the banding-sweep Jaccard (ADVICE
    r8 #4). Wrapping multiply requires non-ANSI arithmetic:
    ``spark.sql.ansi.enabled=false`` in session.RUNTIME_CONFS.
    """
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", tokenize(F.lower(F.col("text"))).alias("toks")
    ).filter(F.size("toks") >= 8)
    th = F.transform("toks", lambda t: F.xxhash64(t))

    def _mix(i):
        h = F.element_at("th", i)
        for k in range(1, 8):
            h = h * F.lit(-7046029254386353131) + F.element_at(
                "th", i + F.lit(k)
            )
        return h

    win = F.transform(F.sequence(F.lit(1), F.size("th") - F.lit(7)), _mix)
    # Both branches keep the window expression INLINE in their own
    # projection instead of sharing a named `wfps` column: explode over
    # a column reference triggers InferFiltersFromGenerate's
    # `size(wfps) > 0` guard, and projection collapse then duplicates
    # the whole transform/array_distinct tree inside that Filter —
    # evaluated twice per row, interpreted. Measured 40.6 s vs 5.5 s
    # for the identical relation at ×10.
    totals = (
        toks.withColumn("th", th)
        .select("source", F.size(F.array_distinct(win)).alias("nw"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("n_window_fps"),
        )
    )
    fps = toks.withColumn("th", th).select(
        "doc_id", "source", F.explode(F.array_distinct(win)).alias("fp")
    )
    per_fp = fps.groupBy("fp").agg(
        F.min_by("source", "doc_id").alias("source"),
        F.count(F.lit(1)).alias("n_docs_with_fp"),
    )
    intro = (
        per_fp.select("source", "n_docs_with_fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_introduced"),
            F.sum((F.col("n_docs_with_fp") == 1).cast("bigint")).alias(
                "n_singletons"
            ),
            F.avg("n_docs_with_fp").alias("spread"),
        )
    )
    return (
        totals.join(intro, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_window_fps").cast("bigint").alias("n_window_fps"),
            F.coalesce("n_introduced", F.lit(0))
            .cast("bigint")
            .alias("n_introduced"),
            F.coalesce("n_singletons", F.lit(0))
            .cast("bigint")
            .alias("n_singletons"),
            pround(
                F.coalesce("n_introduced", F.lit(0))
                / F.col("n_window_fps"),
                6,
            ).alias("novelty_rate"),
            pround(F.col("spread"), 4).alias("docs_per_introduced_fp"),
        )
        .orderBy("source")
    )


def _dedup_lm_effect_oracle() -> str:
    """Removal-closure CTEs + the held-out bigram scoring chain carrying
    TWO train-count models (full train slice vs dedup survivors)."""
    return f"""
    WITH RECURSIVE {_removal_ctes()},
    toks_t AS (
      SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS is_train,
             {_TOKS} AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, source, is_train,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b,
             unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS b1
      FROM toks_t
    ),
    cnt AS (SELECT b, count(*) AS c FROM bg WHERE is_train GROUP BY b),
    pre AS (SELECT b1, count(*) AS cp FROM bg WHERE is_train GROUP BY b1),
    cnt_s AS (
      SELECT b, count(*) AS c FROM bg g
      LEFT JOIN removed r ON g.doc_id = r.id
      WHERE g.is_train AND r.id IS NULL GROUP BY b
    ),
    pre_s AS (
      SELECT b1, count(*) AS cp FROM bg g
      LEFT JOIN removed r ON g.doc_id = r.id
      WHERE g.is_train AND r.id IS NULL GROUP BY b1
    ),
    scored AS (
      SELECT g.source,
             c.c AS c_full, p.cp AS cp_full,
             cs.c AS c_dd, ps.cp AS cp_dd
      FROM bg g
      LEFT JOIN cnt c ON g.b = c.b
      LEFT JOIN pre p ON g.b1 = p.b1
      LEFT JOIN cnt_s cs ON g.b = cs.b
      LEFT JOIN pre_s ps ON g.b1 = ps.b1
      WHERE NOT g.is_train
    ),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN c_full IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov_full,
             CAST(sum(CASE WHEN c_dd IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov_dedup,
             round(sum(CASE WHEN c_full IS NOT NULL
                            THEN ln(c_full / CAST(cp_full AS DOUBLE)) END)
                   / nullif(sum(CASE WHEN c_full IS NOT NULL
                                     THEN 1 ELSE 0 END), 0), 4)
               AS avg_logprob_full,
             round(sum(CASE WHEN c_dd IS NOT NULL
                            THEN ln(c_dd / CAST(cp_dd AS DOUBLE)) END)
                   / nullif(sum(CASE WHEN c_dd IS NOT NULL
                                     THEN 1 ELSE 0 END), 0), 4)
               AS avg_logprob_dedup
      FROM scored GROUP BY source
    ),
    docs_h AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM toks_t WHERE NOT is_train GROUP BY source
    )
    SELECT d.source, d.n_docs,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           coalesce(p.n_oov_full, 0) AS n_oov_full,
           coalesce(p.n_oov_dedup, 0) AS n_oov_dedup,
           round(round(coalesce(p.n_oov_dedup, 0)
                       / CAST(nullif(p.n_bigrams, 0) AS DOUBLE), 4)
                 - round(coalesce(p.n_oov_full, 0)
                         / CAST(nullif(p.n_bigrams, 0) AS DOUBLE), 4), 4)
             AS oov_rate_shift,
           p.avg_logprob_full,
           p.avg_logprob_dedup,
           round(p.avg_logprob_dedup - p.avg_logprob_full, 4)
             AS logprob_shift
    FROM docs_h d LEFT JOIN per_src p ON d.source = p.source
    """


@register(
    "dedup_effect_on_heldout_lm", _dedup_lm_effect_oracle(),
    tags=("text", "X2", "dedup", "lm", "evaluation", "pipeline"),
)
def dedup_effect_on_heldout_lm(spark, sf_dir):
    """Does dedup CHANGE the measured model fit? — the in-engine form of
    the Lee et al. (ACL'22) headline claim. Two bigram MLEs are fit on
    the train slice: one on ALL train docs, one on the dedup SURVIVORS
    (minhash pairs → components → longest-wins policy, the shared
    removal set), and both score the SAME held-out slice — the eval
    never moves, so every shift is attributable to the training-set
    change. Per source: held-out volume, OOV count under each model,
    the OOV-rate shift, the mean seen-bigram conditional log-prob
    under each model, and its shift. A duplicate flood that inflated
    its own conditionals deflates when collapsed; text the flood
    crowded out regains probability mass — the signed per-source
    answer to "what did dedup do to my eval?" that
    post_dedup_mixture_rebalance gives for the mixture law and this
    gives for the measured fit. Composes three green operators.

    Scale shape: the removal set is dup-rate-bounded
    (`nonsurvivor_removed_ids` — LSH pairs, checkpointed CC,
    component-keyed election); the corpus then pays exactly ONE
    occurrence-level shuffle exactly as `heldout_bigram_fit_by_source`
    does — the survivor flag is a doc_id-keyed left join against the
    removal set BEFORE the explode, and the cells aggregate carries
    THREE counts (train-full, train-survivor, held-out) through the
    same map-side combine. Both models' global counts ride the one
    (hb1, hb)-partitioned window exchange (four window sums, same
    sort), and the per-source rollup is source-cardinality. Rounding:
    log-probs and rates are 4dp-rounded per model BEFORE the shift
    subtraction (the ulp discipline). The oracle carries the
    recursive-closure CTE, so like its siblings it is sf-scale-checked
    and replica-skipped (the measured OOM class)."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    removed = nonsurvivor_removed_ids(docs).withColumnRenamed("id", "rm_id")
    is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    toks = F.col("toks")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, n1).alias("b1"), F.slice(toks, 2, n1).alias("b2")
    )
    # spread() (r12): scan-spreading only — see heldout_bigram
    from .io.readers import spread

    cells = (
        spread(
            docs.select(
                "doc_id", "source", is_train.alias("is_train"), "text"
            )
            .join(removed, F.col("doc_id") == F.col("rm_id"), "left")
            .withColumn("kept", F.col("rm_id").isNull()),
            "doc_id",
        )
        .select(
            "source", "is_train", "kept",
            tokenize(F.lower(F.col("text"))).alias("toks"),
        )
        .select("source", "is_train", "kept", F.explode(pairs).alias("p"))
        .groupBy(
            F.xxhash64("p.b1", "p.b2").alias("hb"),
            F.xxhash64("p.b1").alias("hb1"),
            F.col("source"),
        )
        .agg(
            F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("c_tr"),
            F.sum(
                F.when(F.col("is_train") & F.col("kept"), 1).otherwise(0)
            ).alias("c_ts"),
            F.sum(F.when(~F.col("is_train"), 1).otherwise(0)).alias("c_ho"),
        )
    )
    w_b = W.partitionBy("hb1", "hb")
    w_p = W.partitionBy("hb1")
    seen_f = F.col("c_full") > 0
    seen_d = F.col("c_dd") > 0

    def _avg_lp(seen, c, cp):
        return pround(
            F.sum(
                F.when(
                    seen,
                    F.col("c_ho")
                    * F.log(F.col(c) / F.col(cp).cast("double")),
                )
            )
            / F.nullif(
                F.sum(F.when(seen, F.col("c_ho")).otherwise(0)), F.lit(0)
            ).cast("double"),
            4,
        )

    per_src = (
        cells.withColumn("c_full", F.sum("c_tr").over(w_b))
        .withColumn("c_dd", F.sum("c_ts").over(w_b))
        .withColumn("cp_full", F.sum("c_tr").over(w_p))
        .withColumn("cp_dd", F.sum("c_ts").over(w_p))
        .filter(F.col("c_ho") > 0)
        .groupBy("source")
        .agg(
            F.sum("c_ho").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(~seen_f, F.col("c_ho")).otherwise(0))
            .cast("bigint").alias("n_oov_full"),
            F.sum(F.when(~seen_d, F.col("c_ho")).otherwise(0))
            .cast("bigint").alias("n_oov_dedup"),
            _avg_lp(seen_f, "c_full", "cp_full").alias("avg_logprob_full"),
            _avg_lp(seen_d, "c_dd", "cp_dd").alias("avg_logprob_dedup"),
        )
    )
    docs_h = (
        docs.filter(~is_train)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    nb = F.nullif(F.col("n_bigrams"), F.lit(0)).cast("double")
    return docs_h.join(per_src, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("n_oov_full", F.lit(0))
        .cast("bigint").alias("n_oov_full"),
        F.coalesce("n_oov_dedup", F.lit(0))
        .cast("bigint").alias("n_oov_dedup"),
        pround(
            pround(F.coalesce("n_oov_dedup", F.lit(0)) / nb, 4)
            - pround(F.coalesce("n_oov_full", F.lit(0)) / nb, 4),
            4,
        ).alias("oov_rate_shift"),
        "avg_logprob_full",
        "avg_logprob_dedup",
        pround(
            F.col("avg_logprob_dedup") - F.col("avg_logprob_full"), 4
        ).alias("logprob_shift"),
    )


def _published_pipeline_stage_dfs(spark, docs):
    """Spark lane of :func:`_published_pipeline_ctes`: the (deduped,
    quality, final) stage relations of the published CCNet-ordered
    pipeline — shared by the funnel query and the budgeted-manifest
    composition."""
    removed = nonsurvivor_removed_ids(docs)
    deduped = docs.join(
        removed, docs["doc_id"] == removed["id"], "left_anti"
    )
    rules = _gopher_rules_df(deduped)
    # the pipeline gate composes the five VOCABULARY-FREE Gopher rules:
    # the published ≥2-distinct-stop-words rule is vocabulary-bound and
    # on a corpus whose token distribution lacks the English stop list
    # it degenerates to reject-all (measured: 500/500 docs fail it at
    # every sf tier) — it stays in the standalone gopher_quality_rules
    # audit, where reporting the failure IS the point.
    fails = [
        "fail_word_count", "fail_mean_word_len", "fail_symbol_ratio",
        "fail_alpha_words", "fail_top_bigram",
    ]
    quality = deduped.select("doc_id", "source", "lang", "text").join(
        rules.filter(~fails_or(fails)).select("doc_id"), "doc_id"
    )
    scored = _ccnet_scored_df(spark, quality)
    w_l = W.partitionBy("lang")
    ranked = scored.join(
        quality.select("doc_id", "source", "lang"), "doc_id"
    ).select(
        "doc_id",
        "source",
        F.row_number()
        .over(w_l.orderBy(F.col("score").desc(), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w_l).alias("n"),
    )
    final = ranked.filter(F.col("rn") * 3 <= 2 * F.col("n")).select(
        "doc_id", "source"
    )
    return deduped, quality, final


def _published_pipeline_ctes() -> str:
    """CTE chain through ``final`` — dedup removal → Gopher rules on the
    deduped relation → bigram-MLE terciles fit on the quality survivors,
    head+middle kept. Requires a ``WITH RECURSIVE`` prefix. Shared by
    the funnel query and the budgeted-manifest composition."""
    return f"""{_removal_ctes()},
    deduped AS (
      SELECT d.* FROM documents d
      LEFT JOIN removed r ON d.doc_id = r.id
      WHERE r.id IS NULL
    ),
    {_gopher_rules_ctes('deduped')},
    quality AS (
      SELECT d.doc_id, d.source, d.lang, d.text
      FROM deduped d JOIN rules g ON d.doc_id = g.doc_id
      WHERE NOT (g.fail_word_count OR g.fail_mean_word_len
                 OR g.fail_symbol_ratio OR g.fail_alpha_words
                 OR g.fail_top_bigram)
    ),
    {_ccnet_scored_ctes('quality')},
    ranked AS (
      SELECT q.doc_id, q.source,
             row_number() OVER (PARTITION BY q.lang
                                ORDER BY s.score DESC, s.doc_id) AS rn,
             count(*) OVER (PARTITION BY q.lang) AS n
      FROM scored s JOIN quality q USING (doc_id)
    ),
    final AS (SELECT doc_id, source FROM ranked WHERE rn * 3 <= 2 * n)"""


def _published_pipeline_oracle() -> str:
    """Pipeline CTE chain + the per-source funnel rollup."""
    return f"""
    WITH RECURSIVE {_published_pipeline_ctes()},
    raw_c AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
    dd_c AS (SELECT source, count(*) AS n_dedup FROM deduped GROUP BY source),
    q_c AS (SELECT source, count(*) AS n_quality FROM quality GROUP BY source),
    f_c AS (SELECT source, count(*) AS n_final FROM final GROUP BY source)
    SELECT r.source,
           CAST(r.n_raw AS BIGINT) AS n_raw,
           CAST(coalesce(d.n_dedup, 0) AS BIGINT) AS n_dedup,
           CAST(coalesce(q.n_quality, 0) AS BIGINT) AS n_quality,
           CAST(coalesce(f.n_final, 0) AS BIGINT) AS n_final,
           ROUND(coalesce(f.n_final, 0) / CAST(r.n_raw AS DOUBLE), 6)
             AS retention
    FROM raw_c r
    LEFT JOIN dd_c d USING (source)
    LEFT JOIN q_c q USING (source)
    LEFT JOIN f_c f USING (source)
    ORDER BY source
    """


@register(
    "published_curation_pipeline", _published_pipeline_oracle(),
    tags=("text", "training", "curation", "pipeline", "gopher", "ccnet"),
)
def published_curation_pipeline(spark, sf_dir):
    """The PUBLISHED web-curation recipe end-to-end, in CCNet's stage
    order (Wenzek et al. 2020: dedup FIRST, then the language-model
    quality cut; the Gopher rule battery sits between them as
    RefinedWeb-class pipelines run it): (1) minhash near-dup removal —
    corpus-wide survivor election, the shared `nonsurvivor_removed_ids`
    machinery; (2) the Gopher gate evaluated ON the deduped relation —
    the five vocabulary-free rules (the published stop-word rule
    rejects 100% of this synthetic-vocabulary corpus, so it is reported
    by the standalone audit but not composed into the gate; see the
    in-code note); (3) bigram-MLE perplexity terciles per language fit on
    the quality survivors themselves, keeping head+middle (CCNet keeps
    the fluent two-thirds). Output is the per-source funnel — raw →
    deduped → quality → final with the retention rate — i.e. what each
    upstream source actually contributes to the training corpus after
    the published filters run in order. Composes three green operators;
    each stage's semantics is individually oracle-pinned by its own
    registration (`gopher_quality_rules`, `ccnet_perplexity_buckets`,
    the dedup family). Docs with <2 tokens have no LM evidence and are
    dropped at stage 3 on both engines.

    Scale shape: the removal set is dup-rate-bounded; the Gopher gate
    is map-side rules + the bigram-distinct repetition election; the LM
    stage is the one-pass cells + shared-window shape; the tercile
    window ranks doc-sized (lang, score) rows (`operators/ranks.py`'s
    two-stage form is the 100 TB path); the funnel is four
    source-keyed partial aggregates joined on a ≤|sources| relation.
    The oracle embeds the removal closure → inherits the measured
    ×10 OOM skip; sf tiers are hash-checked."""
    docs = _t(spark, sf_dir, "documents")
    deduped, quality, final = _published_pipeline_stage_dfs(spark, docs)
    raw_c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    dd_c = deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_dedup")
    )
    q_c = quality.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_quality")
    )
    f_c = final.groupBy("source").agg(F.count(F.lit(1)).alias("n_final"))
    return (
        raw_c.join(dd_c, "source", "left")
        .join(q_c, "source", "left")
        .join(f_c, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("bigint").alias("n_raw"),
            F.coalesce("n_dedup", F.lit(0)).cast("bigint").alias("n_dedup"),
            F.coalesce("n_quality", F.lit(0))
            .cast("bigint").alias("n_quality"),
            F.coalesce("n_final", F.lit(0)).cast("bigint").alias("n_final"),
            pround(
                F.coalesce("n_final", F.lit(0))
                / F.col("n_raw").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round-10 registry growth: C4 line-level filters + MinHash parameter
# sensitivity audit
# ---------------------------------------------------------------------------

#: C4 line/page rule constants (Raffel et al. 2020, §2.2 "C4" cleaning
#: heuristics), shared by both lanes.
_C4_TERMINALS_RE = '[.!?"]$'
_C4_MIN_LINE_WORDS = 5
_C4_MIN_KEPT_LINES = 3


def _c4_oracle() -> str:
    return f"""
    WITH pages AS (
      SELECT doc_id, source, coalesce(text, '') AS txt FROM documents
    ),
    page_flags AS (
      SELECT doc_id, source,
             (lower(txt) LIKE '%lorem ipsum%') AS has_lorem,
             (txt LIKE '%{{%') AS has_brace
      FROM pages
    ),
    lines AS (
      SELECT doc_id, unnest(string_split(txt, chr(10))) AS line
      FROM pages
    ),
    line_flags AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(rtrim(line), '{_C4_TERMINALS_RE}')
                   AND len(list_filter(string_split_regex(trim(line),
                                                          '[ \\t\\x0b\\f\\r]+'),
                           t -> t <> '')) >= {_C4_MIN_LINE_WORDS}
                   AND lower(line) NOT LIKE '%javascript%'
                  THEN 1 ELSE 0 END AS keep
      FROM lines
    ),
    per_doc AS (
      SELECT f.doc_id, f.source, f.has_lorem, f.has_brace,
             l.n_lines, l.n_kept,
             (NOT f.has_lorem AND NOT f.has_brace
              AND l.n_kept >= {_C4_MIN_KEPT_LINES}) AS kept_doc
      FROM page_flags f
      JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(keep) AS BIGINT) AS n_kept
            FROM line_flags GROUP BY doc_id) l USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(n_kept) AS BIGINT) AS n_kept_lines,
           CAST(sum(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_lorem,
           CAST(sum(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_brace,
           CAST(sum(CASE WHEN kept_doc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           round(sum(CASE WHEN kept_doc THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS retention
    FROM per_doc GROUP BY source
    """


@register(
    "c4_line_filters", _c4_oracle(),
    tags=("text", "X4", "quality", "curation", "c4"),
)
def c4_line_filters(spark, sf_dir):
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2 — the
    published LINE-level rule set next to Gopher's document-level
    battery and CCNet's model-based cut): keep lines that end in a
    terminal punctuation mark, contain ≥5 words, and don't mention
    javascript; drop whole pages containing "lorem ipsum" or a curly
    brace; keep pages with ≥3 surviving lines. Reported per source as
    the per-rule audit (lines kept, lorem/brace pages, page retention).
    On THIS synthetic corpus the report is deliberately degenerate —
    no newlines, periods, or braces exist, so every doc is one
    unterminated line and retention is 0 — exactly the honest outcome
    the Gopher stop-word rule set the precedent for (the audit reports
    the rule, the planted multi-line battery test exercises the
    non-degenerate paths; a corpus with real lines changes the data,
    not the plan).

    Scale shape (measured before listing, ×10: the first cut exploded
    line rows, aggregated back to doc grain, and JOINED against the
    page flags — a per-line row expansion plus two corpus exchanges for
    what is a PER-PAGE projection; 2.26 → ~0.6 s): line rules evaluate
    INSIDE the page row as array expressions — n_kept is
    size(filter(split(txt, '\\n'), keep-predicate)) — so the whole
    battery is one map-side projection folded into the scan, and the
    only exchange is the ≤|sources| partial-aggregated rollup. No
    explode, no join, no window — at 100 TB this is scan-shaped, the
    cheapest filter class in the published battery."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))

    def keep(line):
        # line words: whitespace split MINUS newline (lines can't
        # contain one) — tokenize()'s class is reused per line
        return (
            F.rtrim(line).rlike(_C4_TERMINALS_RE)
            & (F.size(tokenize(line)) >= _C4_MIN_LINE_WORDS)
            & ~F.lower(line).contains("javascript")
        )

    lines = F.split(txt, "\n")
    pages = docs.select(
        "source",
        F.lower(txt).contains("lorem ipsum").alias("has_lorem"),
        txt.contains("{").alias("has_brace"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines, keep)).cast("long").alias("n_kept"),
    )
    kept_doc = (
        ~F.col("has_lorem")
        & ~F.col("has_brace")
        & (F.col("n_kept") >= _C4_MIN_KEPT_LINES)
    )
    return (
        pages.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.sum("n_kept").cast("bigint").alias("n_kept_lines"),
            F.sum(F.when(F.col("has_lorem"), 1).otherwise(0))
            .cast("bigint").alias("n_docs_lorem"),
            F.sum(F.when(F.col("has_brace"), 1).otherwise(0))
            .cast("bigint").alias("n_docs_brace"),
            F.sum(F.when(kept_doc, 1).otherwise(0))
            .cast("bigint").alias("n_docs_kept"),
            pround(
                F.sum(F.when(kept_doc, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("retention"),
        )
    )


#: RefinedWeb line-correction thresholds (Macrodata Refinement rules,
#: Penedo et al. 2023 — the published LINE-WISE correction pass that
#: sits between C4's keep-rules and Gopher's doc-level battery). The
#: paper publishes the rule FAMILIES (mainly-uppercase lines, numeric
#: lines, social-media counters, button/boilerplate lines, and a
#: drop-the-document rule when corrections remove too much); the exact
#: thresholds are the engine's documented choices, pinned cross-engine.
_RW_UPPER_MIN_LETTERS = 4
_RW_UPPER_FRAC = 0.6
_RW_DIGIT_FRAC = 0.5
_RW_COUNTER_RE = "^[0-9]+ (likes|views|comments|shares|points|upvotes)$"
_RW_BUTTONS = ("sign in", "log in", "sign up", "read more", "loading...")
_RW_DOC_REMOVED_FRAC = 0.05


def _refinedweb_lines_oracle() -> str:
    buttons = ", ".join(f"'{b}'" for b in _RW_BUTTONS)
    return f"""
    WITH pages AS (
      SELECT doc_id, source, coalesce(text, '') AS txt FROM documents
    ),
    lines AS (
      SELECT doc_id, source,
             unnest(string_split(txt, chr(10))) AS line
      FROM pages
    ),
    lf AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(line),
                                                '[ \\t\\x0b\\f\\r]+'),
                 t -> t <> '')) AS words,
             len(regexp_replace(line, '[^A-Za-z]', '', 'g')) AS letters,
             len(regexp_replace(line, '[^A-Z]', '', 'g')) AS uppers,
             len(regexp_replace(line, '[ \\t\\x0b\\f\\r]', '', 'g'))
               AS nonspace,
             len(regexp_replace(regexp_replace(line, '[0-9]', '', 'g'),
                                '[ \\t\\x0b\\f\\r]', '', 'g')) AS nondigit,
             regexp_matches(lower(trim(line)), '{_RW_COUNTER_RE}')
               AS is_counter,
             lower(trim(line)) IN ({buttons}) AS is_button
      FROM lines
    ),
    flags AS (
      SELECT doc_id, source, words,
             (letters >= {_RW_UPPER_MIN_LETTERS}
              AND uppers > {_RW_UPPER_FRAC} * letters) AS r_upper,
             (nonspace > 0
              AND nonspace - nondigit > {_RW_DIGIT_FRAC} * nonspace)
               AS r_digit,
             is_counter AS r_counter, is_button AS r_button
      FROM lf
    ),
    per_doc AS (
      SELECT doc_id, source,
             count(*) AS n_lines,
             sum(CASE WHEN r_upper OR r_digit OR r_counter OR r_button
                      THEN 1 ELSE 0 END) AS n_removed,
             sum(CASE WHEN r_upper THEN 1 ELSE 0 END) AS n_upper,
             sum(CASE WHEN r_digit THEN 1 ELSE 0 END) AS n_digit,
             sum(CASE WHEN r_counter THEN 1 ELSE 0 END) AS n_counter,
             sum(CASE WHEN r_button THEN 1 ELSE 0 END) AS n_button,
             sum(words) AS total_words,
             sum(CASE WHEN r_upper OR r_digit OR r_counter OR r_button
                      THEN words ELSE 0 END) AS removed_words
      FROM flags GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(n_removed) AS BIGINT) AS n_lines_removed,
           CAST(sum(n_upper) AS BIGINT) AS n_lines_upper,
           CAST(sum(n_digit) AS BIGINT) AS n_lines_digit,
           CAST(sum(n_counter) AS BIGINT) AS n_lines_counter,
           CAST(sum(n_button) AS BIGINT) AS n_lines_button,
           CAST(sum(CASE WHEN total_words > 0 AND removed_words
                          > {_RW_DOC_REMOVED_FRAC} * total_words
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_dropped,
           CAST(sum(total_words) AS BIGINT) AS n_words,
           CAST(sum(removed_words) AS BIGINT) AS n_words_removed
    FROM per_doc GROUP BY source ORDER BY source
    """


@register(
    "refinedweb_line_corrections", _refinedweb_lines_oracle(),
    tags=("text", "X4", "quality", "curation", "refinedweb"),
)
def refinedweb_line_corrections(spark, sf_dir):
    """RefinedWeb line-wise corrections (Penedo et al. 2023's Macrodata
    Refinement pass — the published filter shelf's fourth member next
    to Gopher/CCNet/C4): remove lines that are mainly uppercase,
    mainly numeric, social-media counters ("3 likes"), or known
    button/boilerplate strings; if the removals take more than 5%
    (`_RW_DOC_REMOVED_FRAC`) of the document's words, drop the
    document outright. Reported per source with per-rule line counts
    and the word accounting the drop rule reads. On the no-newline sf
    corpus every doc is one line and the rules fire only on degenerate
    one-line docs (the C4/Gopher degenerate-by-design precedent); the
    planted multi-line battery test pins every non-degenerate path.

    Scale shape (the c4_line_filters discipline): every rule is an
    array expression INSIDE the page row — per-rule counts are
    size(filter(split(txt, '\\n'), rule)) and the word accounting is an
    aggregate() fold over the same split — one map-side projection
    folded into the scan, the only exchange the ≤|sources| rollup. No
    explode, no join, no window."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(txt, "\n")

    def _letters(line):
        return F.length(F.regexp_replace(line, "[^A-Za-z]", ""))

    def _uppers(line):
        return F.length(F.regexp_replace(line, "[^A-Z]", ""))

    def _nonspace(line):
        return F.length(
            F.regexp_replace(line, "[ \t\x0b\f\r]", "")
        )

    def _nondigit(line):
        return F.length(
            F.regexp_replace(
                F.regexp_replace(line, "[0-9]", ""), "[ \t\x0b\f\r]", ""
            )
        )

    def r_upper(line):
        return (_letters(line) >= _RW_UPPER_MIN_LETTERS) & (
            _uppers(line) > F.lit(_RW_UPPER_FRAC) * _letters(line)
        )

    def r_digit(line):
        ns = _nonspace(line)
        return (ns > 0) & (
            (ns - _nondigit(line)) > F.lit(_RW_DIGIT_FRAC) * ns
        )

    def r_counter(line):
        return F.lower(F.trim(line)).rlike(_RW_COUNTER_RE)

    def r_button(line):
        return F.lower(F.trim(line)).isin(*_RW_BUTTONS)

    def removed(line):
        return r_upper(line) | r_digit(line) | r_counter(line) | r_button(line)

    def words(line):
        return F.size(tokenize(line)).cast("long")

    def word_sum(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda a, x: a + words(x)
        )

    pages = docs.select(
        "source",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines, removed)).cast("long").alias("n_removed"),
        F.size(F.filter(lines, r_upper)).cast("long").alias("n_upper"),
        F.size(F.filter(lines, r_digit)).cast("long").alias("n_digit"),
        F.size(F.filter(lines, r_counter)).cast("long").alias("n_counter"),
        F.size(F.filter(lines, r_button)).cast("long").alias("n_button"),
        word_sum(lines).alias("total_words"),
        word_sum(F.filter(lines, removed)).alias("removed_words"),
    )
    dropped = (F.col("total_words") > 0) & (
        F.col("removed_words")
        > F.lit(_RW_DOC_REMOVED_FRAC) * F.col("total_words")
    )
    return (
        pages.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.sum("n_removed").cast("bigint").alias("n_lines_removed"),
            F.sum("n_upper").cast("bigint").alias("n_lines_upper"),
            F.sum("n_digit").cast("bigint").alias("n_lines_digit"),
            F.sum("n_counter").cast("bigint").alias("n_lines_counter"),
            F.sum("n_button").cast("bigint").alias("n_lines_button"),
            F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint")
            .alias("n_docs_dropped"),
            F.sum("total_words").cast("bigint").alias("n_words"),
            F.sum("removed_words").cast("bigint").alias("n_words_removed"),
        )
        .orderBy("source")
    )


#: URL-filter fixture mapping + rules (RefinedWeb §3.1 URL filtering —
#: blocklist domains, spam keywords, structural URL heuristics). The
#: testdata carries no URL column, so the engine synthesizes one
#: deterministically from (source, doc_id) — the media_from_documents
#: fixture precedent: the MAPPING is the fixture, the rule logic and
#: its plan shape are the product.
_URL_BLOCK_KWS = ("spam", "casino")
_URL_MAX_DEPTH = 3
_URL_DIGIT_DOMAIN_FRAC = 0.3


def _url_fixture_sql() -> str:
    return (
        "('https://' || CASE WHEN doc_id % 13 = 0 "
        "THEN 'd' || CAST(doc_id AS VARCHAR) ELSE source END "
        "|| CASE WHEN doc_id % 7 = 0 THEN '-ads' ELSE '' END "
        "|| '.example.com/' || repeat('p/', CAST(doc_id % 5 AS INT)) "
        "|| 'doc-' || CAST(doc_id AS VARCHAR) "
        "|| CASE WHEN doc_id % 11 = 0 THEN '?utm=spam' ELSE '' END)"
    )


def _refinedweb_url_oracle() -> str:
    kw = " OR ".join(f"url LIKE '%{k}%'" for k in _URL_BLOCK_KWS)
    return f"""
    WITH u AS (
      SELECT source, {_url_fixture_sql()} AS url FROM documents
    ),
    parts AS (
      SELECT source, url,
             regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
             len(string_split(url, '/')) - 4 AS extra_depth
      FROM u
    ),
    flags AS (
      SELECT source,
             (domain LIKE '%-ads%') AS f_blocklist,
             ({kw}) AS f_keyword,
             (extra_depth > {_URL_MAX_DEPTH}) AS f_depth,
             (len(regexp_replace(domain, '[^0-9]', '', 'g'))
              > {_URL_DIGIT_DOMAIN_FRAC} * len(domain)) AS f_digit
      FROM parts
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN f_blocklist THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked_domain,
           CAST(sum(CASE WHEN f_keyword THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked_kw,
           CAST(sum(CASE WHEN f_depth THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_deep,
           CAST(sum(CASE WHEN f_digit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_digit_domain,
           CAST(sum(CASE WHEN NOT (f_blocklist OR f_keyword OR f_depth
                                   OR f_digit)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM flags GROUP BY source ORDER BY source
    """


@register(
    "refinedweb_url_filters", _refinedweb_url_oracle(),
    tags=("text", "X4", "quality", "curation", "refinedweb", "url"),
)
def refinedweb_url_filters(spark, sf_dir):
    """RefinedWeb URL filtering (Penedo et al. 2023 §3.1): domain
    blocklist, spam-keyword match, excessive path depth, digit-heavy
    domains — the pre-content gate a web pipeline runs before fetching
    or parsing anything. The corpus ships no URL column, so the URL is
    a deterministic fixture of (source, doc_id) (documented mapping,
    the media_from_documents precedent); every rule then evaluates on
    the synthesized string exactly as it would on a crawled one.

    Scale shape: pure map-side string projection folded into the scan
    + one ≤|sources| rollup — the cheapest possible filter class; at
    100 TB the URL gate is IO-bound on the scan, never on compute."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit("d"), F.col("doc_id").cast("string")),
        ).otherwise(F.col("source")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("-ads")).otherwise(F.lit("")),
        F.lit(".example.com/"),
        F.repeat(F.lit("p/"), (F.col("doc_id") % 5).cast("int")),
        F.lit("doc-"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("?utm=spam"))
        .otherwise(F.lit("")),
    )
    u = docs.select("source", url.alias("url"))
    domain = F.regexp_extract("url", "https://([^/]+)/", 1)
    extra_depth = F.size(F.split("url", "/")) - 4
    kw = F.lit(False)
    for k in _URL_BLOCK_KWS:
        kw = kw | F.col("url").contains(k)
    flags = u.select(
        "source",
        domain.contains("-ads").alias("f_blocklist"),
        kw.alias("f_keyword"),
        (extra_depth > _URL_MAX_DEPTH).alias("f_depth"),
        (
            F.length(F.regexp_replace(domain, "[^0-9]", ""))
            > F.lit(_URL_DIGIT_DOMAIN_FRAC) * F.length(domain)
        ).alias("f_digit"),
    )
    blocked = (
        F.col("f_blocklist") | F.col("f_keyword") | F.col("f_depth")
        | F.col("f_digit")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.sum(F.when(F.col("f_blocklist"), 1).otherwise(0))
            .cast("bigint").alias("n_blocked_domain"),
            F.sum(F.when(F.col("f_keyword"), 1).otherwise(0))
            .cast("bigint").alias("n_blocked_kw"),
            F.sum(F.when(F.col("f_depth"), 1).otherwise(0))
            .cast("bigint").alias("n_too_deep"),
            F.sum(F.when(F.col("f_digit"), 1).otherwise(0))
            .cast("bigint").alias("n_digit_domain"),
            F.sum(F.when(~blocked, 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


#: bounded deterministic sample for the parameter-sensitivity audit —
#: the exact-Jaccard ground truth is inherently all-pairs, so the audit
#: runs on a CONSTANT-size md5-slice (the bpe_sampled/ivf/pq sample_n
#: discipline); corpus growth changes which docs are sampled, never the
#: audit's cost.
_SENS_SAMPLE_DOCS = 400


def _minhash_sensitivity_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh_{i}"
        for i in range(_NUM_HASHES)
    )
    per_cfg = []
    for bands, rows in _BANDING_CONFIGS:
        band_selects = "\n      UNION ALL\n      ".join(
            "SELECT id, {b} AS band_idx, md5(concat_ws('|', {parts})) AS band_hash FROM sig".format(
                b=b,
                parts=", ".join(f"mh_{b * rows + r}" for r in range(rows)),
            )
            for b in range(bands)
        )
        per_cfg.append(f"""
    banded_{bands} AS (
      {band_selects}
    ),
    cand_{bands} AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded_{bands} a JOIN banded_{bands} b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.id < b.id
    ),
    summary_{bands} AS (
      SELECT CAST({bands} AS INT) AS bands,
             CAST({rows} AS INT) AS rows_per_band,
             (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand_{bands}) AS n_candidates,
             (SELECT count(*) FROM cand_{bands} c
              JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hits
    )""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM summary_{b}" for b, _ in _BANDING_CONFIGS
    )
    return f"""
    WITH sample AS (
      SELECT doc_id, text FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      LIMIT {_SENS_SAMPLE_DOCS}
    ),
    toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM sample),
    base AS (SELECT doc_id AS id, {_SHINGLES} AS sh FROM toks_t
             WHERE len(toks) > 0),
    truth AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM base a JOIN base b ON a.id < b.id
      WHERE round(len(list_intersect(a.sh, b.sh))
                  / CAST(nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0)
                         AS DOUBLE), 6) >= {_JACCARD_T}
    ),
    sig AS (SELECT id, {sig_cols} FROM base),
    {",".join(per_cfg)}
    SELECT bands, rows_per_band,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(n_hits / CAST(nullif(n_true, 0) AS DOUBLE), 6) AS recall,
           round(n_hits / CAST(nullif(n_candidates, 0) AS DOUBLE), 6)
             AS precision_at_t
    FROM ({unions})
    """


@register(
    "minhash_parameter_sensitivity", _minhash_sensitivity_oracle(),
    tags=("text", "X2", "dedup", "lsh", "audit", "sampling"),
)
def minhash_parameter_sensitivity(spark, sf_dir):
    """MinHash banding-parameter sensitivity, VALUE-CHECKED against the
    exact Jaccard relation (r9 verdict #9b — `minhash_banding_sweep`'s
    missing quality axis): for each (bands, rows-per-band) layout of
    the shared 8-hash signature, candidate RECALL (fraction of true
    ≥-threshold pairs surfaced as candidates) and PRECISION (fraction
    of candidates that are true) on a deterministic 400-doc md5-sample.
    This is the S-curve audit a dedup operator runs before picking a
    config: more bands → recall rises toward 1, precision falls. The
    full-corpus banding sweep measures candidate COST at scale (its
    oracle is infeasible by construction — the cost IS the audited
    quantity); this bounded audit supplies the oracle-checked QUALITY
    companion, so between them both axes of the trade-off carry a gate.

    Scale shape: ONE TakeOrdered collect of the top-400 by (md5(id),
    id) — map-side heap + driver merge, a documented bounded collect of
    the ivf-fit class — then every stage (all-pairs truth on xxhash64
    fingerprint arrays, the cfg-tagged banding, one full-outer metric
    join) reads the 400-row local relation: sample-bounded,
    ≤ C(400,2) rows, corpus-free. The output is four rows. At 100 TB
    the audit costs the same as at sf0.001 (measured at ×10: 4.4 s vs
    DuckDB 13.5 s after three listing-measurement fixes — the corpus
    TakeOrdered re-planned per branch, the four-branch pipeline, and a
    single-task string-array truth join)."""
    from .text.dedup import minhash_signature, shingles

    docs = _t(spark, sf_dir, "documents")
    # ONE TakeOrdered COLLECT of the sample (documented bounded
    # collect: ≤ _SENS_SAMPLE_DOCS rows — the ivf/pq fit-sample class),
    # re-entered as a local relation every branch reads. The first cut
    # left the corpus-wide TakeOrdered in the plan, so each of the four
    # config branches plus both truth sides re-planned it (~10 corpus
    # scans, 18.3 s at ×10); an eager localCheckpoint of the sampled
    # relation was measured at ~6 s warm (sort+limit executes the slow
    # RDD-materialization path) — the collect is the fast driver-merge
    # TakeOrdered, ~1 s, and the audit is then corpus-free.
    sample_rows = (
        docs.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(_SENS_SAMPLE_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    local = spark.createDataFrame(sample_rows, "doc_id bigint, text string")
    # string shingles feed the md5 signature (oracle hash parity); the
    # all-pairs ground truth intersects 8-byte xxhash64 FINGERPRINT
    # arrays instead (equivalence classes identical absent a 64-bit
    # collision within a compared pair — the cross-lingual/banding
    # assumption class). Measured: string-array intersects on the
    # C(400,2) pair grid ran 19 s IN ONE TASK (a LocalTableScan join
    # side plans single-partition); longs + an explicit repartition of
    # the left side cut the truth stage to ~1 s.
    base = local.select(
        F.col("doc_id").alias("id"), shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)
    base = base.withColumn(
        "shf", F.array_sort(F.transform("sh", lambda s: F.xxhash64(s)))
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sh_a = base.select(
        F.col("id").alias("id_a"), F.col("shf").alias("shf_a")
    ).repartition(n_shuffle)
    sh_b = base.select(
        F.col("id").alias("id_b"), F.col("shf").alias("shf_b")
    )
    inter = F.size(F.array_intersect("shf_a", "shf_b"))
    union = F.size(F.array_union("shf_a", "shf_b"))
    jac = pround(inter / F.when(union != 0, union).cast("double"), 6)
    truth = (
        sh_a.join(sh_b, F.col("id_a") < F.col("id_b"))
        .filter(jac >= _JACCARD_T)
        .select("id_a", "id_b", F.lit(1).alias("is_true"))
    )
    sig = base.select("id", *minhash_signature("sh", _NUM_HASHES))
    # ALL configs ride ONE banded relation (cfg-tagged band structs,
    # 1+2+4+8 = 15 per doc), one bucket shuffle, one truth join, one
    # per-config rollup — the first cut built four separate
    # branch pipelines and paid ~4× the stage count for the same rows
    band_cols = []
    for bands, rows in _BANDING_CONFIGS:
        for b in range(bands):
            band_cols.append(
                F.struct(
                    F.lit(bands).alias("cfg"),
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh_{b * rows + r}")
                                for r in range(rows)
                            ],
                        )
                    ).alias("band_hash"),
                )
            )
    banded = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("band")
    ).select("id", "band.cfg", "band.band_idx", "band.band_hash")
    ca = banded.select("id", "cfg", "band_idx", "band_hash")
    cb = banded.select(
        F.col("id").alias("id_b"), "cfg", "band_idx", "band_hash"
    )
    cand = (
        ca.join(cb, ["cfg", "band_idx", "band_hash"])
        .filter(F.col("id") < F.col("id_b"))
        .select(
            "cfg", F.col("id").alias("id_a"), "id_b",
            F.lit(1).alias("is_cand"),
        )
        .distinct()
    )
    cfgs = spark.createDataFrame(
        [(b, r) for b, r in _BANDING_CONFIGS], "cfg int, rows_per_band int"
    )
    truth_by_cfg = truth.crossJoin(F.broadcast(cfgs.select("cfg")))
    j = cand.join(truth_by_cfg, ["cfg", "id_a", "id_b"], "full")
    agg = j.groupBy("cfg").agg(
        F.count("is_true").cast("bigint").alias("n_true"),
        F.count("is_cand").cast("bigint").alias("n_candidates"),
        F.sum(
            F.when(
                F.col("is_true").isNotNull()
                & F.col("is_cand").isNotNull(),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_hits"),
    )
    # The output rides the cfgs SPINE (left join + coalesce-to-0), not the
    # aggregate: on a duplicate-free sample a config with zero candidates
    # produces no aggregated row at all, while the oracle's UNION ALL of
    # per-config summaries emits all four unconditionally (r10 ADVICE —
    # verified: 0 engine rows vs 4 oracle rows on such a corpus).
    out = cfgs.join(F.broadcast(agg), "cfg", "left").select(
        F.col("cfg").cast("int").alias("bands"),
        "rows_per_band",
        F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
        F.coalesce("n_candidates", F.lit(0)).cast("bigint")
        .alias("n_candidates"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
    )
    return out.select(
        "bands", "rows_per_band", "n_true", "n_candidates", "n_hits",
        pround(
            F.col("n_hits")
            / F.when(F.col("n_true") != 0, F.col("n_true")).cast("double"),
            6,
        ).alias("recall"),
        pround(
            F.col("n_hits")
            / F.when(
                F.col("n_candidates") != 0, F.col("n_candidates")
            ).cast("double"),
            6,
        ).alias("precision_at_t"),
    )


#: minimum exact-run length (tokens) for the repeated-substring report —
#: Lee et al. 2022 use 50 BPE tokens on web text; this corpus' docs run
#: ~25-80 words, so the threshold scales to stay exercisable while the
#: operator shape (any threshold) is unchanged.
_RUN_MIN_TOKENS = 20
#: window-ubiquity band shared with verbatim_overlap_pairs: fingerprints
#: in MORE docs are boilerplate (chunk_boilerplate_ratio's business) and
#: would blow the pair space quadratically.
_RUN_MAX_UBIQUITY = 10


def _verbatim_match_ctes() -> str:
    """CTE chain ``toks_t → wins → grp → m → r → runs`` — the SQL twin
    of :func:`_verbatim_match_runs`: per-(pair, diagonal) maximal runs
    of consecutive shared 8-token windows, with window count and the
    run's starting window position in the earlier-id document. Shared
    by the detector (`longest_verbatim_run_pairs`) and the removal rule
    (`exact_substring_removal`)."""
    return f"""toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    wins AS (
      SELECT doc_id,
             unnest(range(1, len(toks) - 6)) AS pos,
             unnest(list_transform(range(1, len(toks) - 6),
               i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                  toks[i+3], toks[i+4], toks[i+5],
                                  toks[i+6], toks[i+7])))) AS w_fp
      FROM toks_t WHERE len(toks) >= 8
    ),
    grp AS (
      SELECT w_fp FROM wins GROUP BY w_fp
      HAVING count(*) BETWEEN 2 AND {_RUN_MAX_UBIQUITY}
    ),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
             a.pos - b.pos AS diag
      FROM wins a
      JOIN grp g ON a.w_fp = g.w_fp
      JOIN wins b ON b.w_fp = a.w_fp AND a.doc_id < b.doc_id
    ),
    r AS (
      SELECT id_a, id_b, diag, pos_a,
             pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
                                        ORDER BY pos_a) AS isl
      FROM m
    ),
    runs AS (
      SELECT id_a, id_b, diag, count(*) AS run_windows,
             min(pos_a) AS pos_a_min
      FROM r GROUP BY id_a, id_b, diag, isl
    )"""


def _verbatim_runs_oracle() -> str:
    return f"""
    WITH {_verbatim_match_ctes()},
    pairs AS (
      SELECT id_a, id_b,
             max(run_windows) + 7 AS longest_run_tokens,
             count(*) AS n_runs,
             sum(run_windows) AS n_matched_windows
      FROM runs GROUP BY id_a, id_b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(longest_run_tokens AS BIGINT) AS longest_run_tokens,
           CAST(n_runs AS BIGINT) AS n_runs,
           CAST(n_matched_windows AS BIGINT) AS n_matched_windows
    FROM pairs WHERE longest_run_tokens >= {_RUN_MIN_TOKENS}
    ORDER BY longest_run_tokens DESC, id_a, id_b LIMIT 50
    """


@register(
    "longest_verbatim_run_pairs", _verbatim_runs_oracle(),
    tags=("text", "X2", "dedup", "verbatim", "substring", "islands"),
)
def longest_verbatim_run_pairs(spark, sf_dir):
    """EXACT-SUBSTRING duplication detector (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array ExactSubstr operator, re-expressed shuffle-bounded):
    for every document pair sharing 8-token windows, the LONGEST run of
    consecutive shared windows, i.e. the longest exact shared substring
    in tokens (run_windows + 7). `verbatim_overlap_pairs` counts shared
    windows but cannot distinguish one 60-token verbatim quote from
    eight scattered 8-token collisions — the RUN length is what the
    published ≥50-token removal rule thresholds on. A suffix array is
    inherently single-machine; the relational equivalent is the
    gaps-and-islands trick on the matched-window position grid: two
    windows are consecutive in BOTH documents iff they lie on the same
    (pos_a − pos_b) DIAGONAL at adjacent pos_a, so runs are islands of
    pos_a within (pair, diagonal) — pos_a − row_number constant inside
    a run, one window over the candidate-bounded match relation (the
    contamination_span_lengths islands idiom, generalized corpus-wide).

    Scale shape: windows explode map-side (xxhash64 over 8 tokens
    directly — codegen, no string allocation; the fp never surfaces, so
    the engine uses 8-byte longs where the oracle keeps md5 — identical
    equivalence classes absent a 64-bit collision within a compared
    pair, the cross-lingual/banding-sweep assumption class); ONE fp
    shuffle to ubiquity-capped buckets (2..{_RUN_MAX_UBIQUITY} — the
    verbatim band; boilerplate windows excluded by construction);
    bucket-local (doc, pos)×(doc, pos) expansion, never a self-join
    (the AQE same-exchange-both-sides hazard minhash documents); the
    islands window partitions by (pair, diagonal) — match-bounded, ≪
    corpus; TakeOrderedAndProject top-50."""
    docs = _t(spark, sf_dir, "documents")
    runs = _verbatim_match_runs(spark, docs)
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            (F.max("run_windows") + 7).cast("bigint")
            .alias("longest_run_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.sum("run_windows").cast("bigint").alias("n_matched_windows"),
        )
        .filter(F.col("longest_run_tokens") >= _RUN_MIN_TOKENS)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "longest_run_tokens", "n_runs", "n_matched_windows",
        )
        .orderBy(F.col("longest_run_tokens").desc(), "id_a", "id_b")
        .limit(50)
    )


def _verbatim_match_runs(spark, docs):
    """Shared core of the ExactSubstr family: the per-(pair, diagonal)
    RUN relation ``(id_a, id_b, diag, run_windows, pos_a_min)`` —
    every maximal run of consecutive shared 8-token windows between
    two documents, with its window count and its starting window
    position in the EARLIER-id document (the later-id side's start is
    ``pos_a_min − diag``). Consumed by `longest_verbatim_run_pairs`
    (the detector's pair rollup) and `exact_substring_removal` (Lee et
    al.'s removal rule — interval accounting on the later-id side)."""
    from .text.analysis import tokenize

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        docs.select("doc_id", tokenize(F.lower(F.col("text"))).alias("toks"))
        .filter(F.size("toks") >= 8)
    )
    idx = F.sequence(F.lit(1), F.size("toks") - 7)
    win = F.xxhash64(
        *[F.element_at("toks", F.col("i") + k) for k in range(8)]
    )
    wins = (
        toks.select("doc_id", "toks", F.explode(idx).alias("i"))
        .select("doc_id", F.col("i").alias("pos"), win.alias("w_fp"))
        .repartition(n_shuffle, "w_fp")
    )
    buckets = (
        wins.groupBy("w_fp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "pos"))
            ).alias("occ")
        )
        .filter(
            (F.size("occ") >= 2) & (F.size("occ") <= _RUN_MAX_UBIQUITY)
        )
    )
    occ = F.col("occ")
    pair_structs = F.flatten(
        F.transform(
            occ,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(occ, i + 2, F.size(occ)),
                    lambda y: y["doc_id"] > x["doc_id"],
                ),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"),
                    y["doc_id"].alias("id_b"),
                    x["pos"].alias("pos_a"),
                    (x["pos"] - y["pos"]).alias("diag"),
                ),
            ),
        )
    )
    m = buckets.select(F.explode(pair_structs).alias("p")).select(
        "p.id_a", "p.id_b", "p.pos_a", "p.diag"
    )
    w_diag = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    return (
        m.withColumn(
            "isl", F.col("pos_a") - F.row_number().over(w_diag)
        )
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg(
            F.count(F.lit(1)).alias("run_windows"),
            F.min("pos_a").alias("pos_a_min"),
        )
        .drop("isl")
    )


def _exact_substring_removal_oracle() -> str:
    return f"""
    WITH {_verbatim_match_ctes()},
    iv AS (
      SELECT id_b AS doc_id, pos_a_min - diag AS s,
             pos_a_min - diag + run_windows + 6 AS e
      FROM runs WHERE run_windows + 7 >= {_RUN_MIN_TOKENS}
    ),
    ord AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    isl AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS g
      FROM ord
    ),
    merged AS (
      SELECT doc_id, g, max(e) - min(s) + 1 AS rm
      FROM isl GROUP BY doc_id, g
    ),
    per_doc AS (
      SELECT doc_id, sum(rm) AS removed FROM merged GROUP BY doc_id
    ),
    acct AS (
      SELECT d.source, t.doc_id, len(t.toks) AS n_toks,
             coalesce(p.removed, 0) AS removed
      FROM toks_t t JOIN documents d USING (doc_id)
      LEFT JOIN per_doc p USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens_before,
           CAST(count(*) FILTER (WHERE removed > 0) AS BIGINT)
             AS n_docs_trimmed,
           CAST(sum(removed) AS BIGINT) AS n_tokens_removed,
           CAST(count(*) FILTER (WHERE removed = n_toks AND n_toks > 0)
                AS BIGINT) AS n_docs_emptied,
           CAST(sum(n_toks - removed) AS BIGINT) AS n_tokens_after
    FROM acct GROUP BY source ORDER BY source
    """


@register(
    "exact_substring_removal", _exact_substring_removal_oracle(),
    tags=("text", "X2", "dedup", "verbatim", "substring", "removal"),
)
def exact_substring_removal(spark, sf_dir):
    """ExactSubstr REMOVAL (Lee et al. 2022 §4.1 — the action taken on
    what `longest_verbatim_run_pairs` detects): every maximal shared
    run of ≥ {_RUN_MIN_TOKENS} tokens is cut from the LATER-id document
    of its pair (the earlier copy survives — the paper's keep-one
    rule), and the cleaned corpus is summarized per source: docs,
    tokens before/after, docs trimmed, tokens removed, docs emptied
    outright. Runs land on the later side as token INTERVALS
    [start, start+run_tokens−1]; intervals from different partners can
    overlap, so per-doc accounting merges them first (gaps-and-islands
    over (start, end) with a running-max boundary rule — the same
    idiom that found the runs on the (pair, diagonal) grid) and counts
    the union, never the sum, of covered tokens.

    Scale shape: everything up to `runs` is the detector's audited
    plan (ONE ubiquity-capped fp shuffle, bucket-local expansion). The
    removal adds: a filter to qualifying runs (match-bounded), TWO
    window functions over ONE (doc_id)-partitioned sort of the
    interval relation (affected-doc-bounded, ≪ corpus), a per-doc
    rollup, and a LEFT join of the slim removal accounting back onto
    the per-doc token counts — doc-keyed, shuffle on doc_id only. The
    output is source-bounded. Reference anchor: SURVEY §2.11 X11
    (dedup family); the trim-boundary exactness is pinned by a planted
    verbatim-quote test."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    runs = _verbatim_match_runs(spark, docs)
    start = F.col("pos_a_min") - F.col("diag")
    iv = (
        runs.filter(F.col("run_windows") + 7 >= _RUN_MIN_TOKENS)
        .select(
            F.col("id_b").alias("doc_id"),
            start.alias("s"),
            (start + F.col("run_windows") + 6).alias("e"),
        )
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy("doc_id").orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "g",
        F.sum(
            F.when(
                prev_max.isNull() | (F.col("s") > prev_max), 1
            ).otherwise(0)
        ).over(w_cum),
    )
    merged = flagged.groupBy("doc_id", "g").agg(
        (F.max("e") - F.min("s") + 1).alias("rm")
    )
    per_doc = merged.groupBy("doc_id").agg(F.sum("rm").alias("removed"))
    acct = (
        docs.select(
            "doc_id", "source",
            F.size(tokenize(F.lower(F.col("text")))).alias("n_toks"),
        )
        .join(per_doc, "doc_id", "left")
        .withColumn("removed", F.coalesce("removed", F.lit(0)))
    )
    return (
        acct.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens_before"),
            F.sum(F.when(F.col("removed") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_docs_trimmed"),
            F.sum("removed").cast("bigint").alias("n_tokens_removed"),
            F.sum(
                F.when(
                    (F.col("removed") == F.col("n_toks"))
                    & (F.col("n_toks") > 0),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_docs_emptied"),
            F.sum(F.col("n_toks") - F.col("removed")).cast("bigint")
            .alias("n_tokens_after"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round-11: Bloom-filter n-gram decontamination (Brown et al. 2020)
# ---------------------------------------------------------------------------

#: Bloom geometry for `bloom_ngram_decontamination`: m bits, k hashes,
#: 13-token grams (the GPT-3 rule — Brown et al. 2020, Appendix C,
#: "13-gram overlap" dedup/decon). m is a CONSTANT: the broadcast side
#: of the probe is the set-bit relation, bounded by m rows (a few MB at
#: 2^20, sized for ~1e-4 gram-level FP at sf0.1's eval-gram count) no matter how large the eval suite grows — the property that
#: makes bloom decon the 100 TB shape where the exact-fp broadcast of
#: `eval_window_decontamination` grows with the suite.
_BLOOM_M = 1_048_576
_BLOOM_K = 4
_BLOOM_NGRAM = 13


def _bloom_decon_oracle() -> str:
    """Same double-hash arithmetic (Kirsch–Mitzenmacher: pos_j =
    (h1 + j·h2) mod m with h1/h2 = the first/second 8 md5 hex digits)
    in portable SQL: Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT."""
    cat = ", ".join(f"toks[i+{k}]" for k in range(_BLOOM_NGRAM))
    js = ", ".join(str(j) for j in range(_BLOOM_K))
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'valid'
                  ELSE 'test' END AS split,
             {_TOKS} AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, split,
             unnest(list_transform(range(1, len(toks) - {_BLOOM_NGRAM - 2}),
                    i -> md5(concat_ws(' ', {cat})))) AS fp
      FROM t WHERE len(toks) >= {_BLOOM_NGRAM}
    ),
    eval_fps AS (SELECT DISTINCT fp FROM grams WHERE split = 'test'),
    bloom_bits AS (
      SELECT DISTINCT
             (('0x' || substr(fp, 1, 8))::BIGINT
              + j.j * (('0x' || substr(fp, 9, 8))::BIGINT)) % {_BLOOM_M} AS pos
      FROM eval_fps CROSS JOIN (SELECT unnest([{js}]) AS j) j
    ),
    tg AS (
      SELECT doc_id, fp,
             ('0x' || substr(fp, 1, 8))::BIGINT AS h1,
             ('0x' || substr(fp, 9, 8))::BIGINT AS h2
      FROM grams WHERE split = 'train'
    ),
    tpos AS (
      SELECT doc_id, fp, (h1 + j.j * h2) % {_BLOOM_M} AS pos
      FROM tg CROSS JOIN (SELECT unnest([{js}]) AS j) j
    ),
    ghits AS (
      SELECT doc_id, fp, count(*) AS n_set
      FROM tpos JOIN bloom_bits USING (pos)
      GROUP BY doc_id, fp
    ),
    gflags AS (
      SELECT g.doc_id,
             coalesce(h.n_set, 0) = {_BLOOM_K} AS bloom_hit,
             e.fp IS NOT NULL AS exact_hit
      FROM tg g
      LEFT JOIN ghits h USING (doc_id, fp)
      LEFT JOIN eval_fps e ON g.fp = e.fp
    ),
    dflags AS (
      SELECT doc_id, bool_or(bloom_hit) AS bloom_doc,
             bool_or(exact_hit) AS exact_doc
      FROM gflags GROUP BY doc_id
    ),
    train_docs AS (SELECT doc_id, source FROM t WHERE split = 'train')
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(coalesce(sum(CASE WHEN f.bloom_doc THEN 1 END), 0) AS BIGINT)
             AS n_bloom_flagged,
           CAST(coalesce(sum(CASE WHEN f.exact_doc THEN 1 END), 0) AS BIGINT)
             AS n_exact_flagged,
           CAST(coalesce(sum(CASE WHEN f.bloom_doc AND NOT f.exact_doc
                                  THEN 1 END), 0) AS BIGINT)
             AS n_false_positive_docs
    FROM train_docs d LEFT JOIN dflags f USING (doc_id)
    GROUP BY d.source
    """


@register(
    "bloom_ngram_decontamination", _bloom_decon_oracle(),
    tags=("text", "X2", "decontamination", "bloom", "training"),
)
def bloom_ngram_decontamination(spark, sf_dir):
    """BLOOM-FILTER n-gram decontamination (Brown et al. 2020,
    Appendix C: GPT-3 removed training documents sharing a 13-gram
    with eval sets, tracked via bloom filters) — plus the audit the
    paper could not publish: the exact-probe comparison that counts
    the bloom's false-positive documents, value-checked end to end.

    The bloom is re-expressed relationally: the eval split's 13-gram
    md5 fps hash to k=4 bit positions (Kirsch–Mitzenmacher double
    hashing over the first/second 8 hex digits), and the SET-BIT
    relation — bounded by m = 2^20 rows, a constant — broadcasts into
    four map-side position joins against the train-side grams. A gram
    is bloom-hit iff all k probes land on set bits, a doc is flagged
    iff any gram hits; the exact lane (fp ∈ eval-fp broadcast, the
    `eval_window_decontamination` shape) runs beside it so the output
    prices the FP rate per source. At 100 TB the bloom side's
    broadcast stays ≤ m bits while the exact side's grows with the
    eval suite — this lane IS the measured justification for choosing
    bloom decon at scale. Train grams are probed un-deduped (doc
    flags are bool_or — duplicate grams cannot change them), so the
    train side never shuffles on fp; the only shuffle is the doc-grain
    partial-aggregated rollup."""
    from .text.analysis import tokenize

    docs = _t(spark, sf_dir, "documents")
    h2c = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2c < "cd", "train").when(h2c < "e6", "valid")
        .otherwise("test")
    )
    toks = docs.select(
        "doc_id", split.alias("split"),
        tokenize(F.lower(F.col("text"))).alias("toks"),
    ).filter(F.size("toks") >= _BLOOM_NGRAM)
    idx = F.sequence(F.lit(1), F.size("toks") - (_BLOOM_NGRAM - 1))
    gram = F.md5(F.concat_ws(
        " ", *[F.element_at("toks", F.col("i") + k)
               for k in range(_BLOOM_NGRAM)]
    ))
    grams = toks.select(
        "doc_id", "split", "toks", F.explode(idx).alias("i")
    ).select("doc_id", "split", gram.alias("fp"))

    eval_fps = grams.filter(F.col("split") == "test").select("fp").distinct()
    h1 = F.conv(F.substring("fp", 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring("fp", 9, 8), 16, 10).cast("long")
    bloom_bits = (
        eval_fps.select(
            F.explode(F.array(*[
                ((h1 + F.lit(j) * h2) % _BLOOM_M) for j in range(_BLOOM_K)
            ])).alias("pos")
        ).distinct()
    )

    tg = grams.filter(F.col("split") == "train").select(
        "doc_id", "fp", h1.alias("h1"), h2.alias("h2")
    )
    flags = tg
    hit_cols = []
    for j in range(_BLOOM_K):
        bj = bloom_bits.select(
            F.col("pos").alias(f"pos{j}"), F.lit(1).alias(f"hit{j}")
        )
        flags = flags.withColumn(
            f"pos{j}", (F.col("h1") + F.lit(j) * F.col("h2")) % _BLOOM_M
        ).join(F.broadcast(bj), f"pos{j}", "left")
        hit_cols.append(F.col(f"hit{j}").isNotNull())
    bloom_hit = hit_cols[0]
    for c in hit_cols[1:]:
        bloom_hit = bloom_hit & c
    ev = eval_fps.withColumn("exact", F.lit(1))
    gflags = (
        flags.join(F.broadcast(ev), "fp", "left")
        .select(
            "doc_id",
            bloom_hit.alias("bloom_hit"),
            F.col("exact").isNotNull().alias("exact_hit"),
        )
    )
    dflags = gflags.groupBy("doc_id").agg(
        F.max("bloom_hit").alias("bloom_doc"),
        F.max("exact_hit").alias("exact_doc"),
    )
    train_docs = docs.select("doc_id", "source").where(split == "train")
    return (
        train_docs.join(dflags, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.coalesce(
                F.sum(F.when(F.col("bloom_doc"), 1)), F.lit(0)
            ).cast("bigint").alias("n_bloom_flagged"),
            F.coalesce(
                F.sum(F.when(F.col("exact_doc"), 1)), F.lit(0)
            ).cast("bigint").alias("n_exact_flagged"),
            F.coalesce(
                F.sum(F.when(F.col("bloom_doc") & ~F.col("exact_doc"), 1)),
                F.lit(0),
            ).cast("bigint").alias("n_false_positive_docs"),
        )
    )
