"""Sentiment scoring — the engine's replacement for the reference's VADER UDF.

Reference: NLTK VADER ``polarity_scores(headline + ' ' + summary)['compound']``
applied row-by-row in a pandas loop (fetch_transform_news.py:171-175).

The engine vendors the VADER *algorithm* (valence lexicon + rule-based
modifiers + compound normalization, Hutto & Gilbert ICWSM 2014), rewritten
in r5 to NLTK-faithful semantics — validated against the published
ground-truth compound table (tests/test_text.py::
test_vader_published_compound_parity), each case matching NLTK's exact
4-decimal output. Implemented, in NLTK's order:

- tokenization: whitespace split, tokens of length ≤ 1 dropped, then the
  word±punctuation mapping (one PUNC_LIST element prefixed OR suffixed to
  a punctuation-free word of length > 1 strips to the word; anything
  else — double-punctuated words, emoticons, short words with stuck
  punctuation like "ok." — passes through unchanged, quirks included);
- the first-occurrence context index (NLTK's ``.index(item)``): repeated
  identical tokens take their context window from the FIRST occurrence;
- booster tokens and "kind of"-leading "kind" contribute 0 outright;
- ALL-CAPS emphasis (±C_INCR) on valenced tokens in mixed-case text;
- the 3-token context loop, each distance GATED on the preceding token
  not being in the lexicon: degree modifier (±B_INCR, caps-boosted,
  decayed 0.95/0.9), then per-distance negation (×N_SCALAR, stacking
  multiplicatively across distances) with the "never so/this" ×1.25 and
  "without doubt" exemptions, then (distance 3 only) the special-idiom
  override table and the multiword booster-phrase damper (+B_DECR);
- the "least" pre-negation check ("at/very least" exempt);
- "but"-clause reweighting (×0.5 before the first "but", ×1.5 after);
- punctuation emphasis (!: 0.292 each, ≤4; ?: 2-3 → 0.18·n, >3 → 0.96)
  counted on the RAW text, signed by the token sum;
- compound normalization ``s / sqrt(s*s + 15)``.

The token sum is anchored at 8dp before the emphasis branch (cross-engine
sign discipline; the only deliberate divergence from NLTK, invisible at
the 4dp output anchor). The lexicon is the curated ~4,100-entry set in
``vader_lexicon.py`` — the full ~7.5k NLTK file cannot be vendored from
this offline container without fabricating empirical valences, but a real
local copy is picked up automatically when present
(``vader_lexicon._load_dropin``), and with it the scorer is NLTK-parity
on arbitrary text (tests/test_text.py::test_vader_nltk_parity activates
wherever nltk is installed).

Every rule is elementary arithmetic over a token window, so the scorer is
SQL-replicable: ``vader_oracle_sql()`` renders the *same* lexicon and
constants into a DuckDB query, which is how the driver hash-checks this
Python-UDF lane (queries_text.doc_sentiment).

The builtin scorer is the only engine: it does not switch to an installed
NLTK, so the path the oracle replicates stays deterministic regardless of
what is installed.
"""

from __future__ import annotations

import math
import string

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from .vader_lexicon import (
    B_INCR,
    BOOSTER_PHRASES,
    BUT_AFTER,
    BUT_BEFORE,
    C_INCR,
    DAMPENERS,
    DECAY_2,
    DECAY_3,
    EP_AMPLIFY,
    EP_CAP,
    INTENSIFIERS,
    LEXICON,
    NEGATORS,
    NEVER_SCALAR,
    N_SCALAR,
    QM_AMPLIFY,
    QM_MAX,
    SPECIAL_IDIOMS,
)

#: NLTK's PUNC_LIST — the only punctuation sequences the tokenizer strips
#: off a word (longest-first so "!!!" wins over "!").
_PUNC_LIST = (
    "?!?!", "!?!?", "!!!", "???", "?!?", "!?!", "!!", "??",
    ".", "!", "?", ",", ";", ":", "-", "'", '"',
)
_PUNC_CHARS = frozenset(string.punctuation)


def _map_token(tok: str) -> str:
    """NLTK SentiText's word±punc mapping, local-rule equivalent: the
    token strips to ``w`` iff it equals ``p + w`` or ``w + p`` for one
    PUNC_LIST element ``p`` and a punctuation-free ``w`` of length > 1
    (such a ``w`` is always in the text's punc-stripped word set, so the
    global dict construction reduces to this per-token rule)."""
    for p in _PUNC_LIST:
        if tok.startswith(p):
            w = tok[len(p):]
            if len(w) > 1 and not any(c in _PUNC_CHARS for c in w):
                return w
        if tok.endswith(p):
            w = tok[: len(tok) - len(p)]
            if len(w) > 1 and not any(c in _PUNC_CHARS for c in w):
                return w
    return tok


def _is_caps(tok: str) -> bool:
    """str.isupper: all cased chars upper, at least one cased char."""
    return tok.isupper()


def _negated(tok: str) -> bool:
    return tok in NEGATORS or "n't" in tok


def _scalar(prev_raw: str, prev_low: str, v: float, cap_diff: bool) -> float:
    """scalar_inc_dec: booster increment of ``prev`` given the current
    valence's sign (flip for negative; caps add C_INCR toward the
    valence direction — the v == 0 case lands in the negative branch,
    exactly as NLTK writes it)."""
    if prev_low in INTENSIFIERS:
        s = B_INCR
    elif prev_low in DAMPENERS:
        s = -B_INCR
    else:
        return 0.0
    if v < 0:
        s = -s
    if cap_diff and _is_caps(prev_raw):
        s = s + C_INCR if v > 0 else s - C_INCR
    return s


def _negation(v: float, low: list[str], d: int, i: int) -> float:
    if d == 1:
        if _negated(low[i - 1]):
            v *= N_SCALAR
    elif d == 2:
        if low[i - 2] == "never" and low[i - 1] in ("so", "this"):
            v *= NEVER_SCALAR
        elif low[i - 2] == "without" and low[i - 1] == "doubt":
            pass
        elif _negated(low[i - 2]):
            v *= N_SCALAR
    else:
        # NLTK's published start_i==2 condition is unparenthesized:
        # ``never@i-3 and (so/this@i-2) or (so/this@i-1)`` — Python
        # precedence binds the ``and`` first, so ANY "so"/"this"
        # immediately before the lexicon word triggers the 1.25 boost at
        # distance 3, with or without "never" (e.g. "it was so good").
        # Faithfully reproduced, precedence quirk and all.
        if (low[i - 3] == "never" and low[i - 2] in ("so", "this")) or (
            low[i - 1] in ("so", "this")
        ):
            v *= NEVER_SCALAR
        elif low[i - 3] == "without" and (
            low[i - 2] == "doubt" or low[i - 1] == "doubt"
        ):
            pass
        elif _negated(low[i - 3]):
            v *= N_SCALAR
    return v


def _idioms(v: float, low: list[str], i: int) -> float:
    """Special-idiom override (first match of the five preceding-window
    sequences wins, forward windows override again) + the multiword
    booster-phrase damper. Reached only at context distance 3."""
    n = len(low)
    onezero = f"{low[i-1]} {low[i]}"
    twoonezero = f"{low[i-2]} {low[i-1]} {low[i]}"
    twoone = f"{low[i-2]} {low[i-1]}"
    threetwoone = f"{low[i-3]} {low[i-2]} {low[i-1]}"
    threetwo = f"{low[i-3]} {low[i-2]}"
    for seq in (onezero, twoonezero, twoone, threetwoone, threetwo):
        if seq in SPECIAL_IDIOMS:
            v = SPECIAL_IDIOMS[seq]
            break
    if n - 1 > i:
        zeroone = f"{low[i]} {low[i+1]}"
        if zeroone in SPECIAL_IDIOMS:
            v = SPECIAL_IDIOMS[zeroone]
    if n - 1 > i + 1:
        zeroonetwo = f"{low[i]} {low[i+1]} {low[i+2]}"
        if zeroonetwo in SPECIAL_IDIOMS:
            v = SPECIAL_IDIOMS[zeroonetwo]
    for g in (threetwoone, threetwo, twoone):
        if g in BOOSTER_PHRASES:
            v += -B_INCR  # B_DECR — the constant, not the dict value
    return v


def _least(v: float, low: list[str], i: int) -> float:
    if i > 1 and low[i - 1] == "least" and low[i - 1] not in LEXICON:
        if low[i - 2] not in ("at", "very"):
            v *= N_SCALAR
    elif i == 1 and low[i - 1] == "least" and low[i - 1] not in LEXICON:
        v *= N_SCALAR
    return v


def vader_score(text: str | None) -> float:
    """Compound sentiment of one string on [-1, 1] (deterministic,
    SQL-replicable; NLTK-faithful — see module docstring)."""
    raw = text or ""
    wes = [_map_token(t) for t in raw.split() if len(t) > 1]
    low = [t.lower() for t in wes]
    n = len(wes)
    n_caps = sum(1 for t in wes if _is_caps(t))
    cap_diff = 0 < n_caps < n
    first_idx: dict[str, int] = {}
    for k, t in enumerate(wes):
        first_idx.setdefault(t, k)
    sentiments: list[float] = []
    for item in wes:
        i = first_idx[item]  # NLTK quirk: context from the FIRST occurrence
        lt = item.lower()
        if (
            lt in INTENSIFIERS
            or lt in DAMPENERS
            or (i < n - 1 and lt == "kind" and low[i + 1] == "of")
        ):
            sentiments.append(0.0)
            continue
        v = 0.0
        if lt in LEXICON:
            v = LEXICON[lt]
            if cap_diff and _is_caps(item):
                v = v + C_INCR if v > 0 else v - C_INCR
            for d in (1, 2, 3):
                if i >= d and low[i - d] not in LEXICON:
                    s = _scalar(wes[i - d], low[i - d], v, cap_diff)
                    if d == 2 and s != 0.0:
                        s *= DECAY_2
                    elif d == 3 and s != 0.0:
                        s *= DECAY_3
                    v += s
                    v = _negation(v, low, d, i)
                    if d == 3:
                        v = _idioms(v, low, i)
            v = _least(v, low, i)
        sentiments.append(v)
    if "but" in low:
        bi = low.index("but")
        sentiments = [
            s * (BUT_BEFORE if k < bi else (BUT_AFTER if k > bi else 1.0))
            for k, s in enumerate(sentiments)
        ]
    s = sum(sentiments)
    # anchor the token sum at 8dp (portable floor-rounding) BEFORE the
    # emphasis branch: a sentence whose valences cancel exactly sums to
    # ±1ulp depending on accumulation order, and branching emphasis on
    # that raw sign made the two lanes pick opposite branches (found by
    # the randomized cross-engine battery) — the same anchor discipline
    # as every iterative-tier fixed point
    s = math.floor(s * 1e8 + 0.5) / 1e8
    n_excl = min(raw.count("!"), EP_CAP)
    n_qm = raw.count("?")
    qm_amp = 0.0 if n_qm <= 1 else (n_qm * QM_AMPLIFY if n_qm <= 3 else QM_MAX)
    pe = n_excl * EP_AMPLIFY + qm_amp
    if s > 0:
        s += pe
    elif s < 0:
        s -= pe
    return s / math.sqrt(s * s + 15.0)


@F.pandas_udf(T.DoubleType())
def _sentiment_udf(texts: pd.Series) -> pd.Series:
    return texts.map(vader_score)


def sentiment_score(headline: Column, summary: Column | None = None) -> Column:
    """U1 — compound sentiment of ``headline + ' ' + summary`` (null-safe
    concat mirrors the reference's ``or ''`` fallback at :173), scored by
    the vendored deterministic VADER (:func:`vader_score`)."""
    text = headline if summary is None else F.concat_ws(" ", headline, summary)
    return _sentiment_udf(text)


def _sql_str(w: str) -> str:
    return "'" + w.replace("'", "''") + "'"


def _sql_set(words) -> str:
    return ", ".join(_sql_str(w) for w in sorted(words))


#: regex alternation for PUNC_LIST (longest-first) and the
#: punctuation-free character class (string.punctuation = ASCII 33-47,
#: 58-64, 91-96, 123-126), both RE2-safe. DuckDB single-quoted strings
#: pass backslashes through literally.
_PUNC_ALT = r"\?!\?!|!\?!\?|!!!|\?\?\?|\?!\?|!\?!|!!|\?\?|[.!?,;:''\-\x22]"
_NONPUNC = r"[^!-/:-@\[-`{-~]"


def vader_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text", digits: int = 4) -> str:
    """DuckDB replication of :func:`vader_score` over ``table`` —
    generated from the same lexicon/constants so the two lanes cannot
    drift.

    Shape notes: the first-occurrence context index (NLTK's
    ``.index(item)`` quirk) is a ``min(pos) OVER (doc, raw-token)``
    window, not a per-token ``list_position`` scan (quadratic per doc);
    every context token the rules touch is extracted to a SCALAR column
    in ``ctx`` (guarded ``ictx >= k`` — DuckDB's negative list indices
    wrap from the END) so the rule layers never drag the token arrays
    along; and the sequential per-distance valence chain is one
    projection LAYER per rule step — a lateral-alias chain substitutes
    textually and blows the expression tree up exponentially (measured:
    planner crash). Per-doc sums re-round at 8dp before the emphasis
    branch (registry discipline)."""
    lex_rows = ",\n      ".join(
        f"({_sql_str(tok)}, {val})" for tok, val in sorted(LEXICON.items())
    )
    intens, damp = _sql_set(INTENSIFIERS), _sql_set(DAMPENERS)
    neg = _sql_set(NEGATORS)
    strip = (
        "CASE WHEN regexp_extract(t, '^(?:{P})({W}{{2,}})$', 1) <> '' "
        "THEN regexp_extract(t, '^(?:{P})({W}{{2,}})$', 1) "
        "WHEN regexp_extract(t, '^({W}{{2,}})(?:{P})$', 1) <> '' "
        "THEN regexp_extract(t, '^({W}{{2,}})(?:{P})$', 1) "
        "ELSE t END"
    ).format(P=_PUNC_ALT, W=_NONPUNC)

    def caps(expr: str) -> str:
        return f"({expr} = upper({expr}) AND {expr} <> lower({expr}))"

    def negated(expr: str) -> str:
        return f"({expr} IN ({neg}) OR contains({expr}, 'n''t'))"

    def scalar(d: int, vcur: str) -> str:
        """Gated booster increment from distance ``d`` given current
        valence column ``vcur`` (see _scalar)."""
        pl, pr = f"t{d}", f"r{d}"
        base = (
            f"(CASE WHEN {pl} IN ({intens}) THEN {B_INCR} "
            f"WHEN {pl} IN ({damp}) THEN -{B_INCR} ELSE 0.0 END)"
        )
        flip = f"(CASE WHEN {vcur} < 0 THEN -{base} ELSE {base} END)"
        cap = (
            f"(CASE WHEN {base} <> 0.0 AND cap_diff AND {caps(pr)} "
            f"THEN (CASE WHEN {vcur} > 0 THEN {C_INCR} "
            f"ELSE -{C_INCR} END) ELSE 0.0 END)"
        )
        decay = {1: "", 2: f" * {DECAY_2}", 3: f" * {DECAY_3}"}[d]
        return f"(CASE WHEN g{d} THEN ({flip} + {cap}){decay} ELSE 0.0 END)"

    def negation(d: int, v: str) -> str:
        if d == 1:
            body = (
                f"CASE WHEN {negated('t1')} "
                f"THEN {v} * {N_SCALAR} ELSE {v} END"
            )
        else:
            far = f"t{d}"
            mids = [f"t{k}" for k in range(1, d)]
            doubt = " OR ".join(f"{m} = 'doubt'" for m in mids)
            if d == 2:
                never = f"({far} = 'never' AND t1 IN ('so', 'this'))"
            else:
                # NLTK precedence quirk (see _negation): at distance 3
                # "so"/"this" at i-1 boosts WITHOUT requiring "never".
                never = (
                    f"(({far} = 'never' AND t2 IN ('so', 'this')) "
                    f"OR t1 IN ('so', 'this'))"
                )
            body = (
                f"CASE WHEN {never} "
                f"THEN {v} * {NEVER_SCALAR} "
                f"WHEN {far} = 'without' AND ({doubt}) THEN {v} "
                f"WHEN {negated(far)} THEN {v} * {N_SCALAR} ELSE {v} END"
            )
        return f"(CASE WHEN g{d} THEN ({body}) ELSE {v} END)"

    seqs = {
        "onezero": "t1 || ' ' || tok",
        "twoonezero": "t2 || ' ' || t1 || ' ' || tok",
        "twoone": "t2 || ' ' || t1",
        "threetwoone": "t3 || ' ' || t2 || ' ' || t1",
        "threetwo": "t3 || ' ' || t2",
    }

    def idiom_case(expr: str, fallback: str) -> str:
        whens = " ".join(
            f"WHEN {expr} = {_sql_str(k)} THEN CAST({v} AS DOUBLE)"
            for k, v in sorted(SPECIAL_IDIOMS.items())
        )
        return f"(CASE {whens} ELSE {fallback} END)"

    # break-ordered preceding-window override, then the forward windows
    first_five = "v3n"
    for name in ("threetwo", "threetwoone", "twoone", "twoonezero", "onezero"):
        # building inside-out reverses priority: onezero (outermost) wins
        first_five = idiom_case(seqs[name], first_five)
    fwd1 = idiom_case("CASE WHEN n > ictx THEN tok || ' ' || tn1 END",
                      first_five)
    fwd2 = idiom_case(
        "CASE WHEN n > ictx + 1 THEN tok || ' ' || tn1 || ' ' || tn2 END",
        fwd1,
    )
    phrase_adds = " + ".join(
        f"(CASE WHEN {seqs[g]} IN ({_sql_set(BOOSTER_PHRASES)}) "
        f"THEN -{B_INCR} ELSE 0.0 END)"
        for g in ("threetwoone", "threetwo", "twoone")
    )
    idioms = f"(CASE WHEN g3 THEN ({fwd2}) + {phrase_adds} ELSE v3n END)"

    least = (
        "(CASE WHEN ictx >= 3 AND p1_absent AND t1 = 'least' "
        "AND t2 NOT IN ('at', 'very') THEN vi * " + str(N_SCALAR) +
        " WHEN ictx = 2 AND p1_absent AND t1 = 'least' "
        "THEN vi * " + str(N_SCALAR) + " ELSE vi END)"
    )

    return f"""
    WITH lex(tok, v) AS (VALUES
      {lex_rows}
    ),
    docs AS (
      SELECT {id_col} AS doc_id, coalesce({text_col}, '') AS txt
      FROM {table}
    ),
    toked AS (
      SELECT doc_id, txt,
             list_transform(
               list_filter(regexp_split_to_array(txt, '\\s+'),
                           t -> len(t) > 1),
               t -> {strip}) AS rtks
      FROM docs
    ),
    docs2 AS (
      SELECT doc_id, txt, rtks,
             list_transform(rtks, t -> lower(t)) AS tks,
             len(rtks) AS n,
             least(len(regexp_extract_all(txt, '!')), {EP_CAP}) AS n_excl,
             len(regexp_extract_all(txt, '\\?')) AS n_qm
      FROM toked
    ),
    docs3 AS (
      SELECT *,
             (len(list_filter(rtks, t -> {caps('t')})) > 0
              AND len(list_filter(rtks, t -> {caps('t')})) < n) AS cap_diff,
             CASE WHEN list_contains(tks, 'but')
                  THEN list_position(tks, 'but') END AS but_pos
      FROM docs2
    ),
    flat AS (
      SELECT doc_id, rtks, tks, n, cap_diff, but_pos,
             unnest(rtks) AS rtk,
             unnest(tks) AS tok,
             generate_subscripts(tks, 1) AS pos
      FROM docs3
    ),
    flat2 AS (
      SELECT *, CAST(min(pos) OVER (PARTITION BY doc_id, rtk) AS INT)
                  AS ictx
      FROM flat
    ),
    ctx AS (
      SELECT doc_id, pos, but_pos, n, cap_diff, tok, ictx,
             rtk AS cur_r,
             CASE WHEN ictx >= 2 THEN tks[ictx-1] END AS t1,
             CASE WHEN ictx >= 2 THEN rtks[ictx-1] END AS r1,
             CASE WHEN ictx >= 3 THEN tks[ictx-2] END AS t2,
             CASE WHEN ictx >= 3 THEN rtks[ictx-2] END AS r2,
             CASE WHEN ictx >= 4 THEN tks[ictx-3] END AS t3,
             CASE WHEN ictx >= 4 THEN rtks[ictx-3] END AS r3,
             tks[ictx+1] AS tn1,
             tks[ictx+2] AS tn2
      FROM flat2
      WHERE tok NOT IN ({intens}) AND tok NOT IN ({damp})
        AND NOT (ictx < n AND tok = 'kind' AND tks[ictx+1] = 'of')
    ),
    base AS (
      SELECT c.doc_id, c.pos, c.but_pos, c.n, c.cap_diff, c.ictx,
             c.tok, c.t1, c.r1, c.t2, c.r2, c.t3, c.r3, c.tn1, c.tn2,
             (c.ictx >= 2 AND p1.tok IS NULL) AS g1,
             (c.ictx >= 3 AND p2.tok IS NULL) AS g2,
             (c.ictx >= 4 AND p3.tok IS NULL) AS g3,
             (p1.tok IS NULL) AS p1_absent,
             (CASE WHEN c.cap_diff AND {caps('c.cur_r')} THEN
                (CASE WHEN l.v > 0 THEN l.v + {C_INCR}
                      ELSE l.v - {C_INCR} END)
              ELSE l.v END) AS v0
      FROM ctx c
      JOIN lex l ON c.tok = l.tok
      LEFT JOIN lex p1 ON p1.tok = c.t1
      LEFT JOIN lex p2 ON p2.tok = c.t2
      LEFT JOIN lex p3 ON p3.tok = c.t3
    ),
    s1 AS (SELECT *, v0 + {scalar(1, 'v0')} AS v1 FROM base),
    s1n AS (SELECT *, {negation(1, 'v1')} AS v1n FROM s1),
    s2 AS (SELECT *, v1n + {scalar(2, 'v1n')} AS v2 FROM s1n),
    s2n AS (SELECT *, {negation(2, 'v2')} AS v2n FROM s2),
    s3 AS (SELECT *, v2n + {scalar(3, 'v2n')} AS v3 FROM s2n),
    s3n AS (SELECT *, {negation(3, 'v3')} AS v3n FROM s3),
    si AS (SELECT *, {idioms} AS vi FROM s3n),
    scored AS (SELECT doc_id, pos, but_pos, {least} AS vfin FROM si),
    agg AS (
      SELECT doc_id,
             floor(sum(vfin
                       * (CASE WHEN but_pos IS NOT NULL AND pos < but_pos
                               THEN {BUT_BEFORE}
                               WHEN but_pos IS NOT NULL AND pos > but_pos
                               THEN {BUT_AFTER}
                               ELSE 1.0 END))
                   * 100000000 + 0.5) / 100000000 AS s
      FROM scored GROUP BY doc_id
    ),
    emph AS (
      SELECT d.doc_id,
             CASE WHEN coalesce(a.s, 0.0) > 0
                    THEN a.s + d.n_excl * {EP_AMPLIFY} + qm_amp
                  WHEN coalesce(a.s, 0.0) < 0
                    THEN a.s - d.n_excl * {EP_AMPLIFY} - qm_amp
                  ELSE 0.0 END AS s
      FROM (
        SELECT *,
               CASE WHEN n_qm > 3 THEN {QM_MAX}
                    WHEN n_qm > 1 THEN n_qm * {QM_AMPLIFY}
                    ELSE 0.0 END AS qm_amp
        FROM docs2
      ) d LEFT JOIN agg a USING (doc_id)
    )
    SELECT doc_id, round(s / sqrt(s * s + 15.0), {digits}) AS sentiment
    FROM emph
    """
