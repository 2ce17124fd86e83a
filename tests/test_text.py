"""Text-tier tests — dedup finds planted duplicates, analysis handles
nulls/empties, simhash locality property."""

from pyspark.sql import functions as F

from trading_dashboard_spark.text.analysis import (
    fingerprint,
    language_id,
    quality_features,
    token_count,
)
from trading_dashboard_spark.text.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_hamming_pairs,
)
from trading_dashboard_spark.text.sentiment import sentiment_score


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [(1, "a b  c"), (2, ""), (3, None), (4, "  x  ")], ["id", "text"]
    )
    out = {r["id"]: r["n"] for r in df.select("id", token_count(F.col("text")).alias("n")).collect()}
    assert out == {1: 3, 2: 0, 3: 0, 4: 1}


def test_exact_dedup_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other doc")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    # canonicalization: lowercase + whitespace collapse -> 1 and 2 merge
    assert out == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different text about spark execution engines and shuffles"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = minhash_near_dup_pairs(df, jaccard_threshold=0.3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    # LSH candidates are a subset of exact ground truth
    exact = ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} >= {(1, 2)}


def test_simhash_locality(spark):
    a = "shared tokens one two three four five six seven eight nine ten"
    b = a + " extra"
    c = "totally unrelated words xyz qqq www eee rrr ttt yyy uuu"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    out = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()}

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_simhash_hamming_pairs_matches_exact_quadratic(spark):
    """The blocked pair scan must equal the exact O(n²) Hamming join —
    the 4x16-bit pigeonhole guarantee, checked on a corpus with planted
    near-identical docs plus unrelated filler."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (1, base),
        (2, base + " nu"),          # near-dup of 1
        (3, base.replace("mu", "xi")),  # near-dup of 1
        (4, "totally different words about spark shuffles and catalyst plans"),
        (5, "another unrelated document mentioning parquet files and arrow"),
        (6, base),                  # exact dup of 1 -> hamming 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(df, max_hamming=3).collect()
    }
    # exact ground truth via the fingerprint columns themselves
    fps = {
        r["doc_id"]: (r["lo"], r["hi"])
        for r in df.select(
            "doc_id",
            simhash64(F.col("text")).alias("lo"),
            simhash64(F.col("text"), md5_offset=9).alias("hi"),
        ).collect()
    }
    exact = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(fps[a][0] ^ fps[b][0]).count("1") + bin(
                fps[a][1] ^ fps[b][1]
            ).count("1")
            if d <= 3:
                exact[(a, b)] = d
    assert got == exact
    assert got[(1, 6)] == 0  # the planted exact dup survives with distance 0


def test_simhash_arrow_lane_equals_hof_lane(spark):
    """The vectorized fingerprint lane must be VALUE-IDENTICAL to the
    pure-expression lane the SQL oracle replays — including the exact
    trim/split/lower edge semantics (space-only trim, limit −1 split
    keeping BOTH leading and trailing empty tokens, ASCII whitespace
    class)."""
    from trading_dashboard_spark.text.dedup import _simhash_parts_arrow

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "\tleading tab token"),
        (5, "trailing space "),
        (6, "MiXeD Case DUP dup mixed case"),
        (7, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        (8, "repeated repeated repeated distinct"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = _simhash_parts_arrow()(F.col("text"))
    arrow = {
        r["doc_id"]: (r["lo"], r["hi"])
        for r in df.select("doc_id", p["lo"].alias("lo"), p["hi"].alias("hi")).collect()
    }
    hof = {
        r["doc_id"]: (r["lo"], r["hi"])
        for r in df.select(
            "doc_id",
            simhash64(F.col("text")).alias("lo"),
            simhash64(F.col("text"), md5_offset=9).alias("hi"),
        ).collect()
    }
    assert arrow == hof
    # and the pair scan agrees across lanes end-to-end
    a = sorted(
        tuple(r) for r in simhash_hamming_pairs(df, lane="arrow").collect()
    )
    b = sorted(
        tuple(r) for r in simhash_hamming_pairs(df, lane="hof").collect()
    )
    assert a == b


def test_simhash_hamming_pairs_radius_guard(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        simhash_hamming_pairs(df, max_hamming=4)


def test_simhash_hamming_max_block_drops_degenerate_flood(spark):
    """A flood of identical docs (one degenerate fingerprint) explodes
    the pair space quadratically; max_block caps it. Distinct near-dups
    with uncrowded blocks are unaffected."""
    flood = [(i, "same exact words everywhere") for i in range(30)]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    distinct = [(100, base), (101, base)]  # hamming-0 twins, pop-2 blocks
    df = spark.createDataFrame(flood + distinct, ["doc_id", "text"])
    uncapped = simhash_hamming_pairs(df).collect()
    assert len(uncapped) >= 30 * 29 // 2  # the flood dominates
    capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_hamming_pairs(df, max_block=10).collect()
    }
    assert (100, 101) in capped      # real near-dup survives
    assert len(capped) == 1          # flood blocks (pop 30 > 10) dropped


def test_language_id_und_and_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat"), (2, "der hund ist nicht da"), (3, "xyzzy plugh")],
        ["id", "text"],
    )
    out = {r["id"]: r["l"] for r in df.select("id", language_id(F.col("text")).alias("l")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_quality_features_empty_and_null(spark):
    df = spark.createDataFrame([(1, None), (2, "")], ["id", "text"])
    q = quality_features(F.col("text"))
    rows = df.select(
        q["n_tokens"].alias("nt"), q["punct_ratio"].alias("pr"), q["stopword_ratio"].alias("sr")
    ).collect()
    for r in rows:
        assert r["nt"] == 0 and r["pr"] is None and r["sr"] is None


def test_sentiment_sign_and_null(spark):
    df = spark.createDataFrame(
        [(1, "good great win"), (2, "bad loss fail"), (3, "neutral words here"), (4, None)],
        ["id", "text"],
    )
    out = {r["id"]: r["s"] for r in df.select("id", sentiment_score(F.col("text")).alias("s")).collect()}
    assert 0.0 < out[1] <= 1.0 and -1.0 <= out[2] < 0.0
    assert out[3] == 0.0 and out[4] == 0.0


def test_sentiment_vader_rules():
    """The vendored scorer implements VADER's rule set, not a count-ratio:
    valence weighting, negation flip, degree modifiers, punctuation
    emphasis, and the compound normalization (which pins known compound
    values — 'good' alone is exactly 1.9/sqrt(1.9^2+15))."""
    import math

    from trading_dashboard_spark.text.sentiment import vader_score
    from trading_dashboard_spark.text.vader_lexicon import LEXICON

    assert len(LEXICON) >= 300  # a real lexicon, not a 20-word stand-in
    # valence-weighted: stronger words score higher, same token count
    assert vader_score("great") > vader_score("good") > 0
    assert vader_score("terrible") < vader_score("concern") < 0
    # exact compound for a single-token doc
    v = LEXICON["good"]
    assert vader_score("good") == v / math.sqrt(v * v + 15.0)
    # negation flips sign (scaled by -0.74, not a hard flip)
    assert vader_score("not good") < 0 < vader_score("good")
    assert abs(vader_score("not good")) < abs(vader_score("good"))
    # degree modifiers: intensifier amplifies, dampener attenuates
    assert vader_score("very good") > vader_score("good") > vader_score("slightly good") > 0
    # modifier reaches over a gap of up to 3 tokens with decay
    assert vader_score("very truly good") > vader_score("good")
    # punctuation emphasis, capped at 4 '!'
    assert vader_score("good!") > vader_score("good")
    assert vader_score("good!!!!") == vader_score("good!!!!!")
    # bounded compound
    strong = "great " * 50
    assert -1.0 <= vader_score(strong) <= 1.0


def test_fingerprint_canonicalization(spark):
    df = spark.createDataFrame([(1, " A  b "), (2, "a b")], ["id", "text"])
    fps = [r["f"] for r in df.select(fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_minhash_near_dup_deterministic_across_runs(spark, sf_dir):
    """Regression: the band self-join formulation intermittently lost a
    pair under AQE (reused-exchange self-join); the bucket-aggregation
    formulation must return the identical pair set on every execution."""
    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.text.dedup import minhash_near_dup_pairs

    docs = load_table(spark, "documents", sf_dir)
    runs = [
        {(r.id_a, r.id_b, r.jaccard) for r in minhash_near_dup_pairs(docs).collect()}
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]
    assert len(runs[0]) > 0


def test_minhash_persist_caches_shingle_relation(spark, sf_dir):
    """persist=True materializes the (id, shingles) relation once for its
    three plan references (signature + both verify sides): the executed
    plan reads from the cache (InMemoryTableScan) and results are
    identical to the uncached run."""
    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.text.dedup import minhash_near_dup_pairs

    docs = load_table(spark, "documents", sf_dir)
    plain = minhash_near_dup_pairs(docs, jaccard_threshold=0.4)
    cached = minhash_near_dup_pairs(
        docs, jaccard_threshold=0.4, persist=True, scope_cache=False
    )
    try:
        plan = cached._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.catalog.clearCache()
    # default call-scoped variant: same rows, and the shingle-relation
    # cache is released (the only persisted thing left is the checkpointed
    # tiny result RDD, whose lifetime is the returned DataFrame's)
    scoped = minhash_near_dup_pairs(docs, jaccard_threshold=0.4, persist=True)
    assert sorted(map(tuple, scoped.collect())) == sorted(map(tuple, plain.collect()))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_chunk_documents_boundaries(spark):
    """Chunk grid: empty doc -> no rows; short doc -> one short chunk;
    exact window -> one chunk; window+1 -> two overlapping chunks whose
    overlap region matches."""
    from trading_dashboard_spark.text.analysis import chunk_documents

    toks = lambda n: " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, toks(5)), (4, toks(8)), (5, toks(9))],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, chunk_tokens=8, overlap=4)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert not any(d in (1, 2) for d, _ in rows)           # empty/null: no chunks
    assert rows[(3, 0)]["n_tokens"] == 5                   # short doc, one chunk
    assert (3, 1) not in rows
    assert rows[(4, 0)]["n_tokens"] == 8 and (4, 1) not in rows  # exact fit
    assert rows[(5, 0)]["n_tokens"] == 8 and rows[(5, 1)]["n_tokens"] == 5
    # overlap: chunk 1 starts at token 4
    assert rows[(5, 1)]["chunk_text"].split() == [f"w{i}" for i in range(4, 9)]

    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_char_entropy_known_values(spark):
    """H('aaaa') = 0; H('abab') = 1 bit; uniform 4-char doc = 2 bits;
    empty/null -> NULL."""
    from trading_dashboard_spark.text.analysis import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, None)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(df).collect()}
    assert out[1] == 0.0 and abs(out[2] - 1.0) < 1e-12 and abs(out[3] - 2.0) < 1e-12
    assert out[4] is None and out[5] is None


def test_sentiment_caps_but_qm_rules_and_oracle_parity():
    """Round-3 rule families: ALL-CAPS emphasis (mixed-case docs only),
    "but"-clause reweighting, '?' emphasis — each changes the score the
    way VADER specifies, and the generated DuckDB oracle reproduces the
    Python scorer bit-for-bit on sentences exercising every rule."""
    import duckdb
    import pandas as pd

    from trading_dashboard_spark.text.sentiment import vader_oracle_sql, vader_score

    # ALL-CAPS token gains magnitude — but only in a mixed-case doc
    assert vader_score("the result is GOOD") > vader_score("the result is good")
    assert vader_score("THE RESULT IS GOOD") == vader_score("the result is good")
    assert vader_score("the result is BAD") < vader_score("the result is bad")
    # uppercase degree modifier gains C_INCR too
    assert vader_score("the result is VERY good") > vader_score("the result is very good")
    # but-clause: later clause dominates
    assert vader_score("earnings were good but guidance is terrible") < 0
    assert vader_score("guidance is terrible but earnings were good") > 0
    # '?' emphasis: 1 adds nothing, 2-3 add per-mark, >3 saturates
    assert vader_score("good?") == vader_score("good")
    assert vader_score("good??") > vader_score("good")
    assert vader_score("good????") == vader_score("good?????")

    cases = [
        "the market is GOOD", "THE MARKET IS GOOD",
        "the market is VERY good",
        "earnings were good but guidance is terrible",
        "is this good? really? are you sure?", "good???? what????",
        "absolutely amazing results!!! BEST quarter",
        "slightly bad news but SO great!!", "BAD BAD bad but GOOD",
        "don't panic, it isn't terrible", "", "no sentiment words here",
    ]
    df = pd.DataFrame({"doc_id": range(len(cases)), "text": cases})
    con = duckdb.connect()
    con.register("documents", df)
    got = dict(con.execute(vader_oracle_sql(digits=6)).fetchall())
    for i, t in enumerate(cases):
        assert abs(round(vader_score(t), 6) - got[i]) < 1e-9, t


def test_vader_dropin_lexicon_loader(tmp_path, monkeypatch):
    """$VADER_LEXICON_PATH overrides the builtin set: real-file rows load
    — including emoticons, which the r5 NLTK-faithful tokenizer CAN
    produce — while multiword and uppercase rows (unreachable by NLTK's
    own lowercased per-token lookup) are filtered, and an unparseable
    file falls back to builtin instead of raising."""
    from trading_dashboard_spark.text import vader_lexicon as vl

    good = tmp_path / "vader_lexicon.txt"
    # published file shape: token \t mean \t stddev \t ratings-list
    good.write_text(
        "happy\t2.7\t0.7\t[3, 3, 2]\n"
        ":)\t2.0\t1.0\t[2]\n"            # emoticon — kept (r5 tokenizer)
        "kind of\t-0.3\t0.5\t[0]\n"      # multiword — filtered
        "Good\t1.9\t0.9\t[2]\n"          # uppercase — filtered (lookup lowers)
        "can't\t-1.0\t0.5\t[-1]\n"       # apostrophe — kept
    )
    monkeypatch.setenv("VADER_LEXICON_PATH", str(good))
    lex = vl._load_dropin()
    assert lex == {"happy": 2.7, ":)": 2.0, "can't": -1.0}

    bad = tmp_path / "bad.txt"
    bad.write_bytes(b"happy\tnot-a-number\n")
    monkeypatch.setenv("VADER_LEXICON_PATH", str(bad))
    assert vl._load_dropin() is None  # builtin wins


def test_vader_nltk_parity():
    """Compound-score parity with real NLTK VADER on reference-style
    headlines (fetch_transform_news.py:171-175 semantics). Runs wherever
    nltk + its vader_lexicon data are installed; in this offline
    container it SKIPS — the builtin lexicon is a curated subset, so
    exact parity is only claimable against the real data file, which
    _load_dropin activates automatically when present."""
    import pytest

    nltk = pytest.importorskip("nltk")
    try:
        from nltk.sentiment import SentimentIntensityAnalyzer

        sia = SentimentIntensityAnalyzer()
    except Exception:
        pytest.skip("nltk installed but vader_lexicon data missing")
    from trading_dashboard_spark.text import vader_lexicon as vl
    from trading_dashboard_spark.text.sentiment import vader_score

    if vl.LEXICON is vl._BUILTIN_LEXICON:
        pytest.skip("real vader_lexicon.txt not loaded — parity undefined")
    headlines = [
        "Stocks rally as earnings beat expectations",
        "Company files for bankruptcy after fraud scandal",
        "Shares plunge on terrible guidance",
        "CEO says growth is VERY strong!!",
        "Results were good but outlook is grim",
        "Nothing notable happened today",
    ]
    for h in headlines:
        expected = sia.polarity_scores(h)["compound"]
        # idioms/bigram rules are the documented divergence; tolerance
        # covers them on plain headlines
        assert abs(vader_score(h) - expected) < 0.05, h


def test_chunk_udtf_matches_expression_operator(spark):
    """The Python UDTF chunker must emit exactly the rows the JVM
    expression operator produces (same windows, tails, empty-doc
    behavior) — the SQL surface and the DataFrame surface are one
    semantics."""
    from trading_dashboard_spark.text.analysis import chunk_documents, chunk_udtf

    rows = [(1, ""), (2, None),
            (3, " ".join(f"w{i}" for i in range(5))),
            (4, " ".join(f"w{i}" for i in range(64))),
            (5, " ".join(f"w{i}" for i in range(150)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("udtf_docs")
    spark.udtf.register("chunk_doc", chunk_udtf())
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM udtf_docs d, LATERAL chunk_doc(d.text, 64, 16) c"
        ).collect()
    }
    want = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    }
    assert got == want and len(want) > 0


def test_phrase_search_survives_degenerate_docs(spark, tmp_path):
    """ADVICE r4 (medium): sequence(1, size-1) on a 0/1-token doc steps
    DOWNWARD to [1, 0] in Spark and the fold then indexes position 0 —
    a runtime crash the DuckDB oracle (empty range) never hits. The
    guarded form must run on empty/one-token docs and still count
    adjacent phrases correctly."""
    from trading_dashboard_spark.queries_text import phrase_search_hash_join

    rows = [
        (1, "", "en", "synth", 0),
        (2, "hash", "en", "synth", 4),
        (3, None, "en", "synth", 0),
        (4, "the hash join beats hash join loops", "en", "synth", 36),
        (5, "hash joins are not a hash join phrase hash join", "en",
         "synth", 47),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search_hash_join(spark, str(tmp_path)).collect()
    }
    assert got == {4: 2, 5: 2}


def test_vader_published_compound_parity():
    """Exact parity with NLTK VADER on the published ground-truth
    compound table (Hutto & Gilbert's README examples, MIT) — this
    EXECUTES in-container, unlike the full-lexicon parity test (which
    needs the real data file): each case's 4dp compound is forced by
    the lexicon valences + rule constants together, so collectively
    they pin tokenization, caps emphasis, per-distance gated negation,
    the never-so/this amplifier, the kind-of damper + skip, the
    n't-detection, but-reweighting, punctuation emphasis, and the
    anchor valences (smart/handsome/funny/good/great/horrible/sux/
    bad/terrible/uncompelling)."""
    from trading_dashboard_spark.text.sentiment import vader_score

    published = {
        "VADER is smart, handsome, and funny.": 0.8316,
        "VADER is smart, handsome, and funny!": 0.8439,
        "VADER is not smart, handsome, nor funny.": -0.7424,
        "The book was good.": 0.4404,
        "The book was only kind of good.": 0.3832,
        "At least it isn't a horrible book.": 0.431,
        "The plot was good, but the characters are uncompelling and "
        "the dialog is not great.": -0.7042,
        "Today SUX!": -0.5461,
        "Not bad at all": 0.431,
        "Sentiment analysis has never been good.": -0.3412,
        "Sentiment analysis has never been this good.": 0.5228,
        "VADER is very smart, handsome, and funny.": 0.8545,
        "VADER is VERY SMART, handsome, and FUNNY.": 0.9227,
        "VADER is VERY SMART, handsome, and FUNNY!!!": 0.9342,
        "VADER is VERY SMART, uber handsome, and FRIGGIN FUNNY!!!": 0.9469,
        "Make sure you :) or :D today!": 0.8633,
        # r6 additions (README "tricky sentences" demo output); each
        # closes EXACTLY under the rule constants + lexicon — anchors
        # whose recalled compound did not close algebraically were NOT
        # added (evidence standard: no fabricated decimals):
        "Most automated sentiment analysis tools are shit.": -0.5574,
        "Other sentiment analysis tools can be quite bad.": -0.5849,
        "Roger Dodger is one of the most compelling variations on this "
        "theme.": 0.2944,
        "Roger Dodger is one of the least compelling variations on this "
        "theme.": -0.1695,
        "Roger Dodger is at least compelling as a variation on the "
        "theme.": 0.2263,
        "Today only kinda sux! But I'll get by, lol": 0.5249,
        # r7 additions, same evidence standard. The last four also
        # CORRECTED curated-estimate lexicon entries: the published
        # demo scores each sentence with exactly one unknown, so the
        # compound uniquely determines the entry (breaks = -1.2 via the
        # ×1.5 after-but weight; collapsed = -1.1), or proves the token
        # absent from the published file (fall, expires — both demo
        # sentences are all-neutral, so the prior curated estimates
        # -1.3/-1.0 were contradicted and removed):
        "A really bad, horrible book.": -0.8211,
        "The movie was too good": 0.4404,
        "The script is not fantastic, but the acting is decent and the "
        "cinematography is EXCELLENT!": 0.7565,
        "but then it breaks": -0.4215,
        "the twin towers collapsed today": -0.2732,
        "they fall in love with the product": 0.6369,
        "usually around the time the 90 day warranty expires": 0.0,
        # r8 additions, same evidence standard (README tricky-sentence
        # demo outputs; each closes EXACTLY and lands on the published
        # one-decimal valence grid). The first two are single-unknown
        # determinations (entertaining = 1.9 via the never-so ×1.25 +
        # so-booster algebra identical to the documented good=1.9 case;
        # badass = 1.4 via distance-3 plain negation ×-0.74); the third
        # adds the publicly documented like = 1.5 and then uniquely
        # determines fault = -1.7 (correcting the -1.8 curated
        # estimate; faults follows its stem):
        "Warren Beatty has never been so entertaining.": 0.5777,
        "Not such a badass after all.": -0.2584,
        "I like to hate Michael Bay films, but I couldn't fault this "
        "one": 0.3153,
        # r9 expansion attempt — NEGATIVE RESULT, recorded per the
        # evidence standard: the remaining README tricky sentences
        # ("neither that funny, nor super witty", "Uwe Boll", "won't
        # say ... astounding ... banal", "ugly meanings in beautiful
        # things", "slow and repetitive parts, BUT ... spice") were
        # each scored and NONE closed against a recalled published
        # compound, so none were added. The analysis surfaced WHY for
        # one: vaderSentiment-HEAD added "super" to BOOSTER_DICT after
        # the NLTK port froze, so its demo scores the neither/nor
        # sentence with super-as-booster (≈-0.62) while NLTK (our
        # parity target, and the reference's download source) scores
        # super as a 2.9 lexicon token under nor-negation — our
        # -0.7881 is the NLTK-semantics value, pinned below.
    }
    for text, expected in published.items():
        assert abs(round(vader_score(text), 4) - expected) < 5e-5, text
    # NLTK-semantics pin for the version-drift case documented above
    # (NOT a published anchor — it guards against silently adopting the
    # vaderSentiment-HEAD "super" booster, which would break parity
    # with the NLTK port the reference downloads):
    assert abs(round(vader_score(
        "This movie was actually neither that funny, nor super witty."
    ), 4) - (-0.7881)) < 5e-5


def test_vader_distance3_so_this_precedence_quirk():
    """ADVICE r5 (medium): NLTK's start_i==2 never-check is
    unparenthesized — ``never@i-3 and so/this@i-2 or so/this@i-1`` —
    so Python precedence makes ANY "so"/"this" immediately before a
    lexicon word fire the 1.25 amplifier at distance 3, no "never"
    required. "It was so good": good=1.9 + so-booster 0.293 = 2.193,
    ×1.25 = 2.74125 → compound 0.5777 (exact normalization algebra).
    The SQL oracle must mirror the same quirk bit-for-bit."""
    import math

    import duckdb
    import pandas as pd

    from trading_dashboard_spark.text.sentiment import (
        vader_oracle_sql, vader_score,
    )

    s = (1.9 + 0.293) * 1.25
    expected = s / math.sqrt(s * s + 15.0)
    assert abs(vader_score("It was so good") - expected) < 5e-9
    # distance-2 form still REQUIRES never (parenthesized in NLTK)
    assert abs(vader_score("that was good") - 1.9 / math.sqrt(1.9**2 + 15)) < 5e-9

    cases = ["It was so good", "never been so bad", "made this terrible",
             "it is so so great", "was this good"]
    df = pd.DataFrame({"doc_id": range(len(cases)), "text": cases})
    con = duckdb.connect()
    con.register("documents", df)
    got = dict(con.execute(vader_oracle_sql(digits=6)).fetchall())
    for i, t in enumerate(cases):
        assert abs(round(vader_score(t), 6) - got[i]) < 1e-9, t


def test_bpe_apply_merges_all_occurrences_like_training():
    """ADVICE r5 (low): _encode_word must merge ALL occurrences of the
    selected lowest-rank pair per iteration (as fit_bpe's training loop
    does), so every training word re-encodes to its training
    segmentation — pair-creating merges must not pre-empt remaining
    occurrences of the current pair."""
    from trading_dashboard_spark.text.bpe import EOW, _encode_word, fit_bpe

    # "aaab": training merges (a,a) everywhere first; if apply merged one
    # occurrence then rescanned, rank of a later-created pair could win.
    vocab = [("aaab", 10), ("ab", 3)]
    merges = fit_bpe(vocab, n_merges=6)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    # replay training segmentation: every vocab word encodes to ONE token
    # stream consistent with the final training state of fit_bpe
    state = {w: list(w) + [EOW] for w, _ in vocab}
    for a, b in merges:
        for w, syms in state.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            state[w] = out
    for w, _ in vocab:
        assert _encode_word(w, ranks) == state[w], w


def test_fit_bpe_sequences_matches_reference_and_overlap(spark):
    """Sequence-level (phrase) BPE (r7, verdict #6): the distributed
    merge loop — per-iteration Spark pair-count argmax + literal
    string-replace application on the sentinel-delimited state — must
    equal a pure-Python sequential trainer rule for rule, including the
    left-to-right overlap semantics on symbol runs ([x,x,x] merges the
    FIRST pair only: scan-with-skip, not overlapping pairs)."""
    from trading_dashboard_spark.text.bpe import fit_bpe_sequences

    def ref_fit(docs, n):
        state = [d.lower().split() for d in docs]
        state = [s for s in state if len(s) > 1]
        merges = []
        for _ in range(n):
            counts = {}
            for syms in state:
                for p in zip(syms, syms[1:]):
                    counts[p] = counts.get(p, 0) + 1
            if not counts:
                break
            a, b = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append((a, b))
            nxt = []
            for syms in state:
                out, j = [], 0
                while j < len(syms):
                    if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                        out.append(a + " " + b)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                nxt.append(out)
            state = nxt
        return merges

    docs = [
        "x x x",                       # run: [x,x,x] -> [x·x, x]
        "a b a b c a b",               # phrase growth across merges
        "b c a b x x",
        "solo",                        # single-token doc: no pairs
        "",                            # empty doc dropped
        "a b c a b c a b c",           # nested phrase merges
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")
    got = fit_bpe_sequences(df, n_merges=12, checkpoint_every=4)
    want = ref_fit(docs, 12)
    assert got == want
    # the run case really chose scan-with-skip: (x, x) appears once as a
    # rule and its phrase result ("x x", x) is a DIFFERENT later pair
    assert ("x", "x") in got


def test_bpe_fit_known_merges_and_apply(spark):
    """BPE (r6 groundwork): on the classic toy vocabulary the learned
    merge sequence is the hand-computable one; application reconstructs
    each word's characters exactly (merges never lose content) and the
    distributed word-frequency pass feeds the same fit."""
    from trading_dashboard_spark.text.bpe import (
        EOW, apply_bpe, fit_bpe, word_frequencies,
    )

    # Sennrich's example shape: low/lower/newest/widest
    vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = fit_bpe(vocab, n_merges=4)
    # hand-derivable: es(9) -> est(9) -> est</w>(9) -> lo(7)
    assert merges == [("e", "s"), ("es", "t"), ("est", EOW), ("l", "o")]

    rows = [(1, "the newest lowest widest low"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["bpe_tokens"]
           for r in apply_bpe(df, merges).collect()}
    # every word's subwords concatenate back to word + EOW
    for tok_list, text in ((out[1], rows[0][1]),):
        joined = "".join(tok_list)
        expected = "".join(w + EOW for w in text.lower().split())
        assert joined == expected
    assert "est" + EOW in out[1]  # learned subword actually used
    assert out[2] == [] and out[3] == []

    # distributed vocab pass: counts match a local count on a tiny corpus
    wf = dict(word_frequencies(df, max_vocab=100))
    assert wf == {"the": 1, "newest": 1, "lowest": 1, "widest": 1, "low": 1}

    # end-to-end over testdata: deterministic fit, non-trivial merges
    from trading_dashboard_spark.io.readers import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    wf2 = word_frequencies(docs, max_vocab=2000)
    m1 = fit_bpe(wf2, n_merges=50)
    m2 = fit_bpe(wf2, n_merges=50)
    assert m1 == m2 and len(m1) == 50
    enc = apply_bpe(docs.limit(20), m1)
    assert enc.filter(F.size("bpe_tokens") > 0).count() > 0


def test_minhash_verify_join_strategy_is_size_aware(spark, sf_dir, monkeypatch):
    """r8 verdict #7: on the scoped-cache path the verify join
    broadcasts the candidate relation when its COUNT is provably under
    MINHASH_BROADCAST_MAX_PAIRS and stays pinned sort-merge above it —
    both regimes must return identical rows, and neither may leave a
    cache behind."""
    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.text import dedup

    docs = load_table(spark, "documents", sf_dir)
    bc = sorted(map(tuple, dedup.minhash_near_dup_pairs(
        docs, jaccard_threshold=0.3, persist=True
    ).collect()))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    monkeypatch.setattr(dedup, "MINHASH_BROADCAST_MAX_PAIRS", 0)
    smj = sorted(map(tuple, dedup.minhash_near_dup_pairs(
        docs, jaccard_threshold=0.3, persist=True
    ).collect()))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert bc == smj and len(bc) > 0


def test_simhash_cluster_summary_equals_uncollapsed(spark, sf_dir):
    """r8 verdict #5: the exact-collapse cluster summary must equal
    dedup_clusters(simhash_hamming_pairs(...)) row-for-row — on the sf
    corpus AND on a planted corpus with exact-dup floods (the case the
    collapse optimizes: a flood is one rep node, not a clique),
    including a weight-2 flood with no near-dup neighbors (no
    inter-group edge, still a cluster) and a flood bridging two
    near-dup groups."""
    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.text.clusters import dedup_clusters
    from trading_dashboard_spark.text.dedup import (
        simhash_cluster_summary, simhash_hamming_pairs,
    )

    def both(df):
        a = sorted(map(tuple, simhash_cluster_summary(df).collect()))
        b = sorted(map(tuple, dedup_clusters(
            simhash_hamming_pairs(df)).collect()))
        return a, b

    docs = load_table(spark, "documents", sf_dir)
    a, b = both(docs)
    assert a == b and len(a) > 0

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")  # few-bit fingerprint nudge
    rows = (
        [(i, base) for i in range(5)]            # 5-member exact flood
        + [(10 + i, near) for i in range(3)]     # near-dup flood
        + [(20, "isolated dup text"), (21, "isolated dup text")]
        + [(30, "completely different words entirely here now")]
    )
    planted = spark.createDataFrame(rows, ["doc_id", "text"])
    a, b = both(planted)
    assert a == b
    comp = {r[0]: r for r in a}
    assert comp[20] == (20, 2, 1, 21)  # edge-less exact flood surfaces
    assert 30 not in comp              # true singleton is not a cluster


def test_winnowing_guarantee_and_no_false_pairs(spark, tmp_path):
    """Winnowing match guarantee (SIGMOD'03): any shared verbatim token
    run of length >= w + k - 1 shares at least one SELECTED fingerprint;
    a 20-token shared run (17 grams, 14 full windows) comfortably clears
    the registered >=2 shared-fingerprint floor even though winnowing
    keeps only ~2/(w+1) of positions. Fully disjoint docs must produce
    no pair at all."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    run = ("one two three four five six seven eight nine ten eleven "
           "twelve thirteen fourteen fifteen sixteen seventeen eighteen "
           "nineteen twenty")
    rows = [
        (1, "junk alpha beta " + run + " tail omega", "en", "s1",
         len(run) + 30),
        (2, run + " completely different suffix here", "en", "s2",
         len(run) + 34),
        (3, "unrelated corpus document about pelicans and tides with "
            "no overlap whatsoever in any window", "en", "s3", 95),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    from trading_dashboard_spark.queries_text import (
        winnowing_fingerprint_pairs,
    )

    pairs = {(r["id_a"], r["id_b"]): r["n_shared_fps"] for r in
             winnowing_fingerprint_pairs(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_winnowing_decontamination_flags_planted_copy(spark, tmp_path):
    """Plant a 20-token verbatim run from a train-split doc inside an
    eval-split doc (split membership computed with the same md5 rule the
    query uses) — the eval doc must surface with n_hit > 0; an eval doc
    with no overlap must not appear."""
    import hashlib

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def split_of(doc_id):
        return ("train"
                if hashlib.md5(str(doc_id).encode()).hexdigest()[:2] < "cd"
                else "eval")

    train_id = next(i for i in range(1000) if split_of(i) == "train")
    eval_ids = [i for i in range(1000) if split_of(i) == "eval"]
    eval_hit, eval_clean = eval_ids[0], eval_ids[1]

    run = ("alpha bravo charlie delta echo foxtrot golf hotel india "
           "juliet kilo lima mike november oscar papa quebec romeo "
           "sierra tango")
    rows = [
        (train_id, "prefix words here " + run + " suffix words", "en",
         "s1", 120),
        (eval_hit, run + " some unrelated continuation text", "en", "s2", 90),
        (eval_clean, "entirely different content about volcanic rocks and "
                     "maritime navigation charts with unique terms", "en",
         "s3", 100),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    from trading_dashboard_spark.queries_text import (
        winnowing_decontamination,
    )

    got = {r["doc_id"]: r for r in
           winnowing_decontamination(spark, str(tmp_path)).collect()}
    assert eval_hit in got and got[eval_hit]["n_hit"] > 0
    assert eval_clean not in got
    assert train_id not in got  # train docs are never audited rows

def _write_docs(tmp_path, rows):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))


def test_gopher_rules_planted_per_rule_failures(spark, tmp_path):
    """One doc per rule, each in its own source, each violating exactly
    one Gopher rule — the per-source failure vector must attribute the
    right rule and nothing else."""
    def words(n, prefix="tok"):
        return " ".join(f"{prefix}{i:03d}" for i in range(n))

    pass_text = "the of " + words(53)
    rows = [
        (0, pass_text, "en", "s_pass", len(pass_text)),
        # short words keep the top-bigram char fraction under 0.2 even in
        # a tiny doc, so only the word-count rule trips
        (1, "the of aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj",
         "en", "s_short", 56),
        (2, "the of " + " ".join(f"{'w' * 10}{i:04d}" for i in range(53)),
         "en", "s_mwl", 700),
        (3, "the of " + words(33) + " " + " ".join(f"{i:05d}" for i in range(20)),
         "en", "s_alpha", 400),
        (4, words(55, prefix="zz"), "en", "s_stop", 400),
        (5, "the of " + words(43) + " " + " ".join(f"#tag{i}" for i in range(10)),
         "en", "s_symbol", 400),
        (6, "the of " + "spam ham " * 26 + "spam", "en", "s_rep", 250),
    ]
    _write_docs(tmp_path, rows)

    from trading_dashboard_spark.queries_text import gopher_quality_rules

    got = {r["source"]: r.asDict() for r in
           gopher_quality_rules(spark, str(tmp_path)).collect()}
    fails = ["fail_word_count", "fail_mean_word_len", "fail_symbol_ratio",
             "fail_alpha_words", "fail_stopword", "fail_top_bigram"]
    expected_fail = {
        "s_pass": None,
        "s_short": "fail_word_count",
        "s_mwl": "fail_mean_word_len",
        "s_alpha": "fail_alpha_words",
        "s_stop": "fail_stopword",
        "s_symbol": "fail_symbol_ratio",
        "s_rep": "fail_top_bigram",
    }
    for source, bad_rule in expected_fail.items():
        row = got[source]
        for rule in fails:
            want = 1 if rule == bad_rule else 0
            assert row[rule] == want, (source, rule, row)
        assert row["n_pass"] == (1 if bad_rule is None else 0)


def test_gopher_top_bigram_tie_breaks_lexicographically(spark, tmp_path):
    """r12: the repetition rule's (count DESC, bigram ASC) argmax moved
    from a row_number window to min(struct(-c, b)) — pin the tie-break.
    The doc's three most frequent bigrams tie exactly ('a b',
    'b longword', 'longword otherlong'); the lexicographically smallest
    ('a b', 3 chars) keeps the char fraction ~0.13 < 0.2 (doc passes),
    while a wrong tie-break to 'longword otherlong' (18 chars) would
    read ~0.78 and fail the rule."""
    n = 13
    text = "the of " + "a b longword otherlong " * n
    text = text.strip()
    _write_docs(tmp_path, [(0, text, "en", "s_tie", len(text))])

    from trading_dashboard_spark.queries_text import gopher_quality_rules

    row = gopher_quality_rules(spark, str(tmp_path)).collect()[0].asDict()
    assert row["fail_top_bigram"] == 0, row
    assert row["n_pass"] == 1, row


def test_ccnet_terciles_partition_each_language(spark, sf_dir):
    """Bucket counts per language are the exact row_number thirds, they
    sum to the number of SCORED docs, and the head bucket's floor is at
    least the tail bucket's ceiling (scores are sorted before cutting)."""
    from trading_dashboard_spark.queries_text import ccnet_perplexity_buckets

    rows = ccnet_perplexity_buckets(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        n = sum(r["n_docs"] for r in buckets.values())
        assert buckets["head"]["n_docs"] == n // 3
        assert buckets["middle"]["n_docs"] == (2 * n) // 3 - n // 3
        assert buckets["tail"]["n_docs"] == n - (2 * n) // 3
        assert buckets["head"]["min_logprob"] >= buckets["middle"]["max_logprob"]
        assert buckets["middle"]["min_logprob"] >= buckets["tail"]["max_logprob"]


def test_soft_dedup_planted_triplicate(spark, tmp_path):
    """Three identical docs in one source collapse to one doc's worth of
    effective tokens (inflation 3.0); a singleton source stays at 1.0."""
    text = ("the quick brown fox jumps over the lazy dog again and again "
            "today tomorrow yesterday")
    other = "entirely different content about volcanic rocks and navigation"
    rows = [
        (1, text, "en", "dup_src", len(text)),
        (2, text, "en", "dup_src", len(text)),
        (3, text, "en", "dup_src", len(text)),
        (4, other, "en", "solo_src", len(other)),
    ]
    _write_docs(tmp_path, rows)

    from trading_dashboard_spark.queries_text import (
        soft_dedup_effective_tokens,
    )

    got = {r["source"]: r.asDict() for r in
           soft_dedup_effective_tokens(spark, str(tmp_path)).collect()}
    n_tok = len(text.split())
    assert got["dup_src"]["raw_tokens"] == 3 * n_tok
    assert got["dup_src"]["effective_tokens"] == float(n_tok)
    assert got["dup_src"]["dup_inflation"] == 3.0
    assert got["dup_src"]["n_clustered"] == 3
    assert got["solo_src"]["dup_inflation"] == 1.0
    assert got["solo_src"]["n_clustered"] == 0


def test_contamination_span_measures_planted_run(spark, tmp_path):
    """A 20-token verbatim run shared train->test must surface as
    max_span_tokens == 20 (13 consecutive windows); an isolated 8-token
    overlap measures exactly 8; a clean train doc never appears."""
    import hashlib

    def split_of(doc_id):
        h2 = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if h2 < "cd" else ("valid" if h2 < "e6" else "test")

    train_ids = [i for i in range(3000) if split_of(i) == "train"]
    test_ids = [i for i in range(3000) if split_of(i) == "test"]
    t_long, t_short, t_clean = train_ids[:3]
    e_src = test_ids[0]

    run20 = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango")
    run8 = "uno dos tres cuatro cinco seis siete ocho"
    filler = " ".join(f"pad{i:03d}" for i in range(12))
    rows = [
        (e_src, run20 + " " + run8, "en", "eval_src", 200),
        (t_long, "lead words here then " + run20 + " trailing words after",
         "en", "tr", 220),
        (t_short, filler + " " + run8 + " " + filler.replace("pad", "qad"),
         "en", "tr", 220),
        (t_clean, "completely unrelated maritime navigation charts with "
                  "unique vocabulary items spanning many distinct tokens",
         "en", "tr", 120),
    ]
    _write_docs(tmp_path, rows)

    from trading_dashboard_spark.queries_text import (
        contamination_span_lengths,
    )

    got = {r["doc_id"]: r.asDict() for r in
           contamination_span_lengths(spark, str(tmp_path)).collect()}
    assert got[t_long]["max_span_tokens"] == 20
    assert got[t_long]["n_spans"] == 1
    assert got[t_long]["n_hit_windows"] == 13
    assert got[t_short]["max_span_tokens"] == 8
    assert got[t_short]["n_hit_windows"] == 1
    assert t_clean not in got
    assert e_src not in got  # only train docs are audited


def test_ngram_novelty_attributes_first_occurrence(spark, tmp_path):
    """Window fps are attributed to the min-doc_id introducer: a doc that
    copies another's prefix introduces nothing for the shared windows;
    within-doc repeats collapse (array_distinct) so a doc made of the
    same phrase twice contributes each distinct window once."""
    a_toks = [f"w{i:02d}" for i in range(20)]           # 13 windows
    b_toks = a_toks[:12] + [f"u{i:02d}" for i in range(8)]  # 13 windows,
    # 5 shared with A (those fully inside a_toks[:12])
    c_phrase = [f"c{i}" for i in range(8)]
    c_toks = c_phrase + c_phrase  # 9 window positions, 8 distinct
    rows = [
        (1, " ".join(a_toks), "en", "s1", 100),
        (2, " ".join(b_toks), "en", "s2", 100),
        (3, " ".join(c_toks), "en", "s1", 100),
    ]
    _write_docs(tmp_path, rows)

    from trading_dashboard_spark.queries_text import ngram_novelty_by_source

    got = {r["source"]: r.asDict() for r in
           ngram_novelty_by_source(spark, str(tmp_path)).collect()}
    s1, s2 = got["s1"], got["s2"]
    assert s1["n_docs"] == 2 and s2["n_docs"] == 1
    assert s1["n_window_fps"] == 13 + 8      # C's repeat collapsed
    assert s2["n_window_fps"] == 13
    assert s1["n_introduced"] == 21          # A:13 + C:8, all first-seen
    assert s2["n_introduced"] == 8           # 5 windows pre-owned by A
    assert s1["n_singletons"] == 8 + 8       # A's 5 shared ones excluded
    assert s2["n_singletons"] == 8
    assert s2["novelty_rate"] == round(8 / 13, 6)
    # spread over s1's introduced fps: 5 live in two docs, 16 in one
    assert s1["docs_per_introduced_fp"] == round((5 * 2 + 16) / 21, 4)
    assert s2["docs_per_introduced_fp"] == 1.0


def test_dedup_effect_on_heldout_lm_planted_shift(spark, tmp_path):
    """A train near-dup cluster (A survivor, B removed) where B carries a
    unique bigram and crowds a shared prefix: the held-out doc's OOV
    count must RISE under the survivor model (B's bigram vanishes) and
    the seen-logprob must move exactly as the hand-computed counts say.

    B is built so its minhash signature EQUALS A's deterministically:
    its one extra shingle (and A's two) are chosen, by searching over
    candidate tokens with the same md5('i:shingle') family the engine
    uses, to never win any of the 8 per-hash minimums — so every band
    collides and the pair is guaranteed, not probabilistic."""
    import hashlib
    import math

    def h(i, sh):
        return hashlib.md5(f"{i}:{sh}".encode()).hexdigest()

    w = [f"qq{i:02d}" for i in range(19)]  # shared prefix w0..w18
    shared_sh = [" ".join(w[i:i + 3]) for i in range(17)]
    shared_min = [min(h(i, s) for s in shared_sh) for i in range(8)]

    def never_wins(shs):
        return all(
            all(h(i, s) > shared_min[i] for s in shs) for i in range(8)
        )

    u = next(
        c for c in (f"zz{k:03d}" for k in range(2000))
        if never_wins([f"{w[17]} {w[18]} " + c])
    )
    w19, w20 = next(
        (a, b)
        for k in range(2000)
        for a, b in [(f"xx{k:03d}", f"yy{k:03d}")]
        if never_wins([f"{w[17]} {w[18]} {a}", f"{w[18]} {a} {b}"])
    )
    a_toks = w + [w19, w20]          # 21 tokens, survivor (n_chars max)
    b_toks = w + [u]                 # 20 tokens, removed
    c_toks = [w[0]] + [f"cc{i}" for i in range(8)]  # crowds cp(w0)
    h_toks = [w[18], u, w[0], w[1]]  # held-out: (w18,u),(u,w0),(w0,w1)

    import hashlib as hl

    def split_of(doc_id):
        return hl.md5(str(doc_id).encode()).hexdigest()[:2]

    ids = list(range(4000))
    train_ids = [i for i in ids if split_of(i) < "cd"]
    test_ids = [i for i in ids if split_of(i) >= "e6"]
    ia, ib, ic = train_ids[:3]
    ih = test_ids[0]
    rows = [
        (ia, " ".join(a_toks), "en", "tr", 300),
        (ib, " ".join(b_toks), "en", "tr", 200),
        (ic, " ".join(c_toks), "en", "tr", 100),
        (ih, " ".join(h_toks), "en", "ho", 50),
    ]
    _write_docs(tmp_path, rows)

    from trading_dashboard_spark.queries_text import (
        dedup_effect_on_heldout_lm,
    )

    got = {r["source"]: r.asDict() for r in
           dedup_effect_on_heldout_lm(spark, str(tmp_path)).collect()}
    assert list(got) == ["ho"]  # only sources with held-out docs appear
    row = got["ho"]
    pr = lambda x: math.floor(x * 10**4 + 0.5) / 10**4  # noqa: E731
    assert row["n_docs"] == 1 and row["n_bigrams"] == 3
    assert row["n_oov_full"] == 1      # (u,w0) only
    assert row["n_oov_dedup"] == 2     # + (w18,u), gone with B
    assert row["oov_rate_shift"] == pr(pr(2 / 3) - pr(1 / 3))
    # full model: c(w18,u)=1/cp(w18)=2; c(w0,w1)=2/cp(w0)=3
    assert row["avg_logprob_full"] == pr(
        (math.log(1 / 2) + math.log(2 / 3)) / 2
    )
    # survivor model: only (w0,w1) seen — c=1, cp(w0)=2 (A + crowder C)
    assert row["avg_logprob_dedup"] == pr(math.log(1 / 2))
    assert row["logprob_shift"] == pr(
        pr(math.log(1 / 2))
        - pr((math.log(1 / 2) + math.log(2 / 3)) / 2)
    )


def test_published_pipeline_funnel_stages(spark, tmp_path):
    """Stage attribution: an exact-dup triple loses two docs at dedup
    (not at quality), a 3-word doc dies at the Gopher gate (not at
    dedup), and the tercile stage keeps exactly floor(2n/3) of the
    quality population."""

    def passing_text(prefix):
        # 62 words, ~6-char mean, 2 distinct stop words buried in
        # doc-specific trigram contexts, no repeated bigram
        ws = [f"{prefix}word{i:02d}" for i in range(60)]
        return " ".join(ws[:10] + ["the"] + ws[10:20] + ["of"] + ws[20:])

    rows = [
        (1, passing_text("dup"), "en", "dup", 300),
        (2, passing_text("dup"), "en", "dup", 300),
        (3, passing_text("dup"), "en", "dup", 300),
        (4, "too short text", "en", "bad", 20),
        (5, passing_text("ga"), "en", "good", 300),
        (6, passing_text("gb"), "en", "good", 300),
        (7, passing_text("gc"), "en", "good", 300),
        (8, passing_text("gd"), "en", "good", 300),
    ]
    _write_docs(tmp_path, rows)

    from trading_dashboard_spark.queries_text import (
        published_curation_pipeline,
    )

    got = {r["source"]: r.asDict() for r in
           published_curation_pipeline(spark, str(tmp_path)).collect()}
    assert got["dup"]["n_raw"] == 3
    assert got["dup"]["n_dedup"] == 1      # dedup, not quality, ate two
    assert got["dup"]["n_quality"] == 1
    assert got["bad"]["n_dedup"] == 1      # survived dedup...
    assert got["bad"]["n_quality"] == 0    # ...died at the Gopher gate
    assert got["bad"]["n_final"] == 0
    assert got["good"]["n_quality"] == 4
    # quality population = 5 docs in one lang -> tercile keeps rn*3<=10
    assert sum(r["n_final"] for r in got.values()) == 3
    assert got["bad"]["retention"] == 0.0


def test_shingles_zero_token_docs_have_no_evidence(spark):
    """Empty / whitespace-only / \\x0B-only docs produce an EMPTY shingle
    set (no near-dup evidence) — matching the SQL oracle, where
    array_to_string([], ' ') is NULL and list_distinct([NULL]) is [];
    the old [\"\"] sentinel paired every empty doc with every other at
    Jaccard 1 while the oracle paired none (found by the adversarial
    battery)."""
    from trading_dashboard_spark.text.dedup import (
        minhash_near_dup_pairs,
        shingles,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\x0b\x0b"), (4, "one"),
         (5, "a b c d")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.sh for r in
           df.select("doc_id", shingles(F.col("text")).alias("sh")).collect()}
    assert got[1] == [] and got[2] == []
    # \x0b-only text trims to TWO empty tokens on both engines (trim
    # strips 0x20 only), so its shingle is the joined " " — identical
    # cross-engine, and caught by exact dedup as byte-equal anyway
    assert got[3] == [" "]
    assert got[4] == ["one"]          # <n tokens: one joined shingle
    assert got[5] == ["a b c", "b c d"]
    pairs = minhash_near_dup_pairs(df, jaccard_threshold=0.3).collect()
    assert pairs == []                # empties never pair


def test_c4_line_filters_planted_multiline_corpus(spark, tmp_path):
    """The registered sf-corpus outcome is degenerate (no newlines or
    terminal punctuation exist there), so the non-degenerate rule paths
    are pinned here on a planted multi-line corpus: terminal-punctuation
    keeps, the 5-word minimum, the javascript line drop, lorem-ipsum
    and curly-brace page drops, and the >=3-kept-lines page rule —
    engine vs oracle on the same parquet."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark.queries import QUERY_REGISTRY

    good = "this line has plenty of words and ends well."
    docs = [
        # kept page: 3 qualifying lines (+1 short line that drops)
        (0, "\n".join([good, good, good, "too short."]), "s0"),
        # dropped: only 2 qualifying lines
        (1, "\n".join([good, good, "no terminal punctuation here"]), "s0"),
        # dropped: javascript line disqualifies one of three
        (2, "\n".join([good, good, "enable Javascript to view this."]),
         "s1"),
        # dropped: lorem ipsum page (lines otherwise fine)
        (3, "\n".join([good, good, good, "lorem ipsum dolor sit."]), "s1"),
        # dropped: curly brace page
        (4, "\n".join([good, good, good, 'function() { return 1; }']),
         "s1"),
        # kept: exactly five words with a quote terminal
        (5, "\n".join(['one two three four five"'] * 3), "s2"),
        # dropped: empty text
        (6, "", "s2"),
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": ["en"] * len(docs),
            "source": [d[2] for d in docs],
            "n_chars": [len(d[1]) for d in docs],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    ent = QUERY_REGISTRY["c4_line_filters"]
    got = {r["source"]: r.asDict()
           for r in ent.fn(spark, str(tmp_path)).collect()}
    assert got["s0"]["n_docs_kept"] == 1          # doc 0 only
    assert got["s0"]["n_kept_lines"] == 5         # 3 + 2
    assert got["s1"]["n_docs_kept"] == 0
    assert got["s1"]["n_docs_lorem"] == 1
    assert got["s1"]["n_docs_brace"] == 1
    assert got["s2"]["n_docs_kept"] == 1          # doc 5 (quote terminal)
    assert got["s2"]["n_kept_lines"] == 3

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    exp = {r[0]: r for r in con.execute(ent.oracle).fetchall()}
    for src, row in got.items():
        assert tuple(row.values()) == exp[src], (src, row, exp[src])


def test_refinedweb_line_corrections_planted_battery(spark, tmp_path):
    """Non-degenerate paths of the RefinedWeb line-correction rules
    (the C4 planted-battery precedent — the sf corpus has no newlines):
    mainly-uppercase lines, mainly-numeric lines, social counters,
    button strings, and the 5%-of-words document drop rule — engine vs
    oracle on the same parquet."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark.queries import QUERY_REGISTRY

    good = "a perfectly ordinary line of readable prose with many words"
    docs = [
        # s0 doc 0: one of each removed-line class + enough good prose
        # that the 5% rule does NOT fire... it will: 4 removed lines
        # carry many words? counters/buttons are short — compute below
        (0, "\n".join([good] * 20 + [
            "THIS IS ALL CAPS SHOUTING",       # upper rule (5 words)
            "123 456 789",                     # digit rule
            "42 likes",                        # counter rule
            "Sign In",                         # button rule
        ]), "s0"),
        # s1 doc 1: drop rule fires — half the words are removed lines
        (1, "\n".join([good, "THE ENTIRE SECOND HALF IS SHOUTED TEXT "
                             "WITH AS MANY WORDS AS THE PROSE HAS"]),
         "s1"),
        # s2 doc 2: clean doc, nothing fires
        (2, "\n".join([good, good]), "s2"),
        # s2 doc 3: empty text — one empty line, no rule, no words
        (3, "", "s2"),
    ]
    pdf = pd.DataFrame({
        "doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
        "lang": ["en"] * len(docs), "source": [d[2] for d in docs],
        "n_chars": [len(d[1]) for d in docs],
    })
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    ent = QUERY_REGISTRY["refinedweb_line_corrections"]
    got = {r["source"]: r.asDict()
           for r in ent.fn(spark, str(tmp_path)).collect()}
    assert got["s0"]["n_lines_upper"] == 1
    assert got["s0"]["n_lines_digit"] == 1
    assert got["s0"]["n_lines_counter"] == 1
    assert got["s0"]["n_lines_button"] == 1
    assert got["s0"]["n_lines_removed"] == 4
    # 20 good lines × 10 words = 200 kept; removed lines carry
    # 5+3+2+2 = 12 words → 12/212 > 5% — the drop rule fires here too
    assert got["s0"]["n_docs_dropped"] == 1
    assert got["s1"]["n_docs_dropped"] == 1          # half shouted
    assert got["s2"]["n_lines_removed"] == 0
    assert got["s2"]["n_docs_dropped"] == 0

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    exp = {r[0]: r for r in con.execute(ent.oracle).fetchall()}
    for src, row in got.items():
        assert tuple(row.values()) == exp[src], (src, row, exp[src])


def test_incremental_eval_decontamination_delta_semantics(
    spark, tmp_path
):
    """Planted cross-snapshot battery: a verbatim quote shared between
    a TRAIN doc and a doc in the v2-only eval slice must surface in the
    v2 summary but not v1's; the engine's incremental path (stored v1
    audit ∪ delta probe) must hash-match the oracle's from-scratch
    computation of both versions. doc_ids pinned to their md5 slices:
    1 → train, 0 → v1 eval, 3 → v2-only eval."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark.queries import QUERY_REGISTRY

    quote = " ".join(f"q{k}" for k in range(10))
    rows = [
        (1, quote + " plus unique train tail words here", "en", "s"),
        (0, " ".join(f"v1clean{k}" for k in range(10)), "en", "s"),
        (3, "prefix words " + quote, "en", "s"),  # v2-only, contaminated
        (2, " ".join(f"trainpad{k}" for k in range(10)), "en", "s"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    )
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    ent = QUERY_REGISTRY["incremental_eval_decontamination"]
    got = {r["version"]: r.asDict()
           for r in ent.fn(spark, str(tmp_path)).collect()}
    assert got["v1"]["n_contaminated"] == 0
    assert got["v2"]["n_contaminated"] == 1          # doc 3, via delta
    assert got["v2"]["n_eval_docs"] == got["v1"]["n_eval_docs"] + 1
    assert got["v2"]["n_hits"] > 0
    assert got["v1"]["max_contamination"] is None or (
        got["v1"]["max_contamination"] == 0.0
    )

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    exp = {r[0]: r for r in con.execute(ent.oracle).fetchall()}
    for ver, row in got.items():
        assert tuple(row.values()) == exp[ver], (ver, row, exp[ver])


def test_exact_substring_removal_trim_boundary_is_exact(spark, tmp_path):
    """Planted verbatim-quote corpus for `exact_substring_removal`
    (r10 verdict #5): a 25-token quote shared by docs 0 and 1 must be
    cut from the LATER doc only, token-exact (removed == 25, the
    prefix/suffix survive untouched); a full duplicate (doc 2) whose
    intervals from TWO partners overlap must count their UNION (49
    tokens — emptied), never the sum (49+25)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark.queries import QUERY_REGISTRY

    quote = " ".join(f"q{k}" for k in range(25))
    d0 = " ".join(
        [" ".join(f"p0x{k}" for k in range(12)), quote,
         " ".join(f"s0x{k}" for k in range(12))]
    )  # 49 tokens: 12 + 25 + 12
    d1 = " ".join(
        [" ".join(f"p1x{k}" for k in range(10)), quote,
         " ".join(f"s1x{k}" for k in range(5))]
    )  # 40 tokens: 10 + 25 + 5
    d2 = d0  # exact copy — overlapping intervals vs BOTH partners
    texts, srcs = [d0, d1, d2], ["s0", "s1", "s2"]
    pdf = pd.DataFrame({
        "doc_id": range(3), "text": texts, "lang": ["en"] * 3,
        "source": srcs, "n_chars": [len(t) for t in texts],
    })
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    ent = QUERY_REGISTRY["exact_substring_removal"]
    got = {r["source"]: r.asDict()
           for r in ent.fn(spark, str(tmp_path)).collect()}
    # earlier copy survives untouched
    assert got["s0"]["n_tokens_removed"] == 0
    assert got["s0"]["n_tokens_after"] == 49
    # later doc loses EXACTLY the 25-token quote — boundary exact
    assert got["s1"]["n_docs_trimmed"] == 1
    assert got["s1"]["n_tokens_removed"] == 25
    assert got["s1"]["n_tokens_after"] == 10 + 5
    assert got["s1"]["n_docs_emptied"] == 0
    # full duplicate: union of overlapping intervals (49), not 49+25
    assert got["s2"]["n_tokens_removed"] == 49
    assert got["s2"]["n_tokens_after"] == 0
    assert got["s2"]["n_docs_emptied"] == 1

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    exp = {r[0]: r for r in con.execute(ent.oracle).fetchall()}
    for src, row in got.items():
        assert tuple(row.values()) == exp[src], (src, row, exp[src])


def test_minhash_sensitivity_emits_all_configs_on_dup_free_corpus(
    spark, tmp_path
):
    """r10 ADVICE (medium): on a corpus whose sample contains NO true
    near-dup pair, every (bands, rows_per_band) config must still emit
    a row — the oracle UNION ALLs the four per-config summaries
    unconditionally, but the first engine cut built the output on the
    aggregate, so a config with zero candidates vanished (verified:
    0 engine rows vs 4 oracle rows). The output now rides the cfgs
    spine with counts coalesced to 0 and NULL recall/precision."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark.queries import QUERY_REGISTRY

    # pairwise-disjoint token sets: zero shared shingles, so the exact
    # Jaccard truth set AND every banding candidate set are empty
    texts = [" ".join(f"d{i}w{k}" for k in range(12)) for i in range(20)]
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts,
        "lang": ["en"] * len(texts), "source": ["s"] * len(texts),
        "n_chars": [len(t) for t in texts],
    })
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    ent = QUERY_REGISTRY["minhash_parameter_sensitivity"]
    got = sorted(
        (r.asDict() for r in ent.fn(spark, str(tmp_path)).collect()),
        key=lambda r: r["bands"],
    )
    assert [r["bands"] for r in got] == [1, 2, 4, 8]
    for r in got:
        assert (r["n_true"], r["n_candidates"], r["n_hits"]) == (0, 0, 0)
        assert r["recall"] is None and r["precision_at_t"] is None

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    exp = sorted(con.execute(ent.oracle).fetchall())
    assert [tuple(r.values()) for r in got] == exp


def test_removed_ids_memo_hits_and_safe_eviction(spark, tmp_path):
    """The removal-closure memo (r10): repeat calls on the SAME corpus
    return the memoized checkpointed relation; eviction past the bound
    drops references without force-unpersist, so an evicted entry a
    caller still holds stays collectible."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark import queries_text as qt
    from trading_dashboard_spark.io.readers import load_table

    qt.clear_removed_ids_memo()
    dirs = []
    for j in range(qt._REMOVED_IDS_MEMO.max_entries + 1):
        d = tmp_path / f"c{j}"
        d.mkdir()
        # pairwise-distinct token sets (no shared shingles) except the
        # planted exact duplicate
        text = [" ".join(f"w{j}x{i}y{k}" for k in range(10))
                for i in range(6)]
        text.append(text[0])  # one exact duplicate pair per corpus
        pdf = pd.DataFrame({
            "doc_id": range(len(text)), "text": text,
            "lang": ["en"] * len(text), "source": ["s"] * len(text),
            "n_chars": [len(t) for t in text],
        })
        pq.write_table(pa.Table.from_pandas(pdf),
                       str(d / "documents.parquet"))
        dirs.append(str(d))

    docs0 = load_table(spark, "documents", dirs[0])
    r1 = qt.nonsurvivor_removed_ids(docs0)
    r2 = qt.nonsurvivor_removed_ids(load_table(spark, "documents", dirs[0]))
    assert r1 is r2  # memo hit across distinct DataFrame objects
    n0 = r1.count()
    assert n0 == 1  # the planted duplicate's non-survivor

    # fill past the bound: entry 0 is evicted, but r1 must stay usable
    for d in dirs[1:]:
        qt.nonsurvivor_removed_ids(load_table(spark, "documents", d))
    assert len(qt._REMOVED_IDS_MEMO) == qt._REMOVED_IDS_MEMO.max_entries
    assert r1.count() == n0  # evicted-but-held relation still readable

    # LRU, not FIFO (r10 ADVICE): a HIT refreshes recency, so the hit
    # entry survives the next eviction while the oldest un-hit one goes.
    keys_before = list(qt._REMOVED_IDS_MEMO)
    oldest, second = keys_before[0], keys_before[1]
    hit_df = qt.nonsurvivor_removed_ids(
        load_table(spark, "documents", dirs[1])
    )  # dirs[1] is the oldest entry — refresh it
    assert list(qt._REMOVED_IDS_MEMO)[-1] == oldest  # moved to the end
    qt.nonsurvivor_removed_ids(load_table(spark, "documents", dirs[0]))
    assert oldest in qt._REMOVED_IDS_MEMO      # hit entry survived
    assert second not in qt._REMOVED_IDS_MEMO  # un-hit oldest evicted
    assert qt.nonsurvivor_removed_ids(
        load_table(spark, "documents", dirs[1])
    ) is hit_df

    qt.clear_removed_ids_memo()
    assert not qt._REMOVED_IDS_MEMO


def test_corpus_memos_miss_after_in_place_corpus_replacement(spark, tmp_path):
    """The corpus memos key on plan hash PLUS the input files' version:
    the scan plan of ``documents.parquet`` hashes the same before and
    after the file is atomically replaced, so a plan-keyed memo would
    serve the old corpus's removal set. Replace the corpus with one whose
    planted duplicate sits elsewhere; the removal closure and the CCNet
    scores must follow the new file."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark import queries_text as qt
    from trading_dashboard_spark.io.cache import cache_stats
    from trading_dashboard_spark.io.readers import load_table

    path = tmp_path / "documents.parquet"

    def land(dup: int, of: int, n: int) -> None:
        text = [" ".join(f"r{i}y{k}" for k in range(10)) for i in range(n)]
        text[dup] = text[of]  # the planted exact duplicate pair
        pdf = pd.DataFrame({
            "doc_id": range(len(text)), "text": text,
            "lang": ["en"] * len(text), "source": ["s"] * len(text),
            "n_chars": [len(t) for t in text],
        })
        pq.write_table(pa.Table.from_pandas(pdf), f"{path}.incoming")
        os.replace(f"{path}.incoming", path)

    def removed_and_scores():
        docs = load_table(spark, "documents", str(tmp_path))
        removed = {r["id"] for r in qt.nonsurvivor_removed_ids(docs).collect()}
        scores = {tuple(r) for r in qt._ccnet_scored_df(spark, docs).collect()}
        return removed, scores

    def fresh_scores():
        docs = load_table(spark, "documents", str(tmp_path))
        return {tuple(r) for r in
                qt._ccnet_scored_df(spark, docs, memo=False).collect()}

    land(dup=6, of=0, n=7)
    removed, scores = removed_and_scores()
    assert removed == {6}  # equal lengths: the lower id survives
    before = cache_stats()["removed_ids"]
    assert removed_and_scores() == (removed, scores)
    assert cache_stats()["removed_ids"]["hits"] == before["hits"] + 1

    land(dup=5, of=2, n=8)  # same path and schema: same plan hash
    removed2, scores2 = removed_and_scores()
    assert removed2 == {5}
    assert scores2 == fresh_scores() != scores
    assert cache_stats()["removed_ids"]["misses"] == before["misses"] + 1


def test_bloom_decontamination_planted_and_saturated(spark, tmp_path, monkeypatch):
    """Planted corpus for `bloom_ngram_decontamination` (r11, Brown et
    al. 2020 13-gram rule): at the production 2^20-bit geometry the
    bloom must flag EXACTLY the exact-probe set (doc 1 embeds a test
    doc's 13-gram; doc 2 is clean) with zero false positives, and the
    engine must hash-match the oracle. Then the SAME corpus under a
    deliberately saturated 64-bit bloom must (a) still hash-match the
    oracle, (b) flag a superset of the exact set, and (c) count the
    clean doc as a FALSE POSITIVE — the audit mechanics the lane
    exists to price, proven on a bloom that actually saturates."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import trading_dashboard_spark.queries_text as qt
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    gram13 = " ".join(f"leak{k}" for k in range(13))
    # ids pinned to md5 split sides: 3 → test, 1/2 → train, 0 → valid
    rows = [
        (3, "intro " + gram13 + " outro filler pad", "s_eval"),
        (1, " ".join(f"pre{k}" for k in range(6)) + " " + gram13,
         "s_contaminated"),
        (2, " ".join(f"clean{k}" for k in range(20)), "s_clean"),
        (0, gram13 + " in the IGNORED valid split", "s_valid"),
    ]
    pdf = pd.DataFrame({
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "lang": ["en"] * len(rows),
        "source": [r[2] for r in rows],
        "n_chars": [len(r[1]) for r in rows],
    })
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")

    def run(oracle):
        got = {r["source"]: r.asDict() for r in
               qt.bloom_ngram_decontamination(spark, str(tmp_path))
               .collect()}
        exp = {r[0]: tuple(r) for r in con.execute(oracle).fetchall()}
        assert set(got) == set(exp)
        for src, row in got.items():
            assert tuple(row.values()) == exp[src], (src, row, exp[src])
        return got

    got = run(QUERY_REGISTRY["bloom_ngram_decontamination"].oracle)
    assert set(got) == {"s_contaminated", "s_clean"}  # train split only
    assert got["s_contaminated"]["n_exact_flagged"] == 1
    assert got["s_contaminated"]["n_bloom_flagged"] == 1
    assert got["s_clean"]["n_bloom_flagged"] == 0
    assert sum(r["n_false_positive_docs"] for r in got.values()) == 0

    # saturate: 16 bits — the eval grams set 13/16, and every
    # clean-doc gram's 4 probes land on set bits (verified arithmetic)
    monkeypatch.setattr(qt, "_BLOOM_M", 16)
    got_sat = run(qt._bloom_decon_oracle())
    assert got_sat["s_contaminated"]["n_bloom_flagged"] == 1
    assert got_sat["s_clean"]["n_bloom_flagged"] == 1     # the FP
    assert got_sat["s_clean"]["n_false_positive_docs"] == 1
    assert got_sat["s_clean"]["n_exact_flagged"] == 0
    # bloom ⊇ exact, per source
    for src in got_sat:
        assert (got_sat[src]["n_bloom_flagged"]
                >= got_sat[src]["n_exact_flagged"])


def test_fit_bpe_sequences_local_matches_spark(spark):
    """r11 optimization: with ``sample_docs`` set the merge loop runs
    DRIVER-LOCAL on the collected constant-size sample (one bounded
    collect instead of n_merges sequential Spark actions). The merge
    table must be bit-identical to the distributed loop run on the same
    sample — same adjacent-pair counts, same (count DESC, a, b) argmax
    (ASCII symbols: Python string order == UTF8String order), same
    left-to-right non-overlapping replace."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.text.bpe import fit_bpe_sequences

    docs = [
        "x x x y y x x", "a b a b c a b", "b c a b x x", "solo", "",
        "a b c a b c a b c", "q w e q w e", "x x x x x x",
        "the cat sat on the mat the cat", "on the on the on the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    local = fit_bpe_sequences(df, n_merges=16, sample_docs=8)
    sampled = df.orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    ).limit(8)
    dist = fit_bpe_sequences(sampled, n_merges=16, sample_docs=None)
    assert local == dist
    assert len(local) > 0
