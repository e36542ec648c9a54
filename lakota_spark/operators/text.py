"""Text-analysis operators for training-data pipelines.

Language-ID (stopword n-gram heuristic), quality scoring, token counting,
and document fingerprinting — all pure Catalyst expressions (no UDFs), so
they run inside whole-stage codegen and scale linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakota_spark.functions import fingerprint, tokens, word_shingles

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately short and deterministic so a SQL oracle can reproduce them.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht"],
    "es": ["el", "la", "de", "que", "los", "una", "es"],
    "zh": ["de", "shi", "le", "wo", "zai", "you", "he"],
}

# Per-language marker phrases for the learned-langid demo query: the
# synthetic corpus's text is language-independent word soup, so the demo
# appends a deterministic per-label phrase (same CASE in the SQL oracle)
# to give the learned model real signal - the `trigram_accent_search`
# augmentation pattern.
LANG_MARKERS = {
    "en": " the quick brown fox jumps over the lazy dog",
    "de": " der schnelle braune fuchs springt uber den faulen hund",
    "fr": " le rapide renard brun saute par-dessus le chien paresseux",
    "es": " el rapido zorro marron salta sobre el perro perezoso",
    "zh": " \u654f\u6377\u7684\u68d5\u8272\u72d0\u72f8\u8df3\u8fc7\u61d2\u72d7",
}

PUNCT_RE = r"[^\w\s]"
# BPE-ish token regex: words, numbers, or single punctuation marks.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features: lengths, token counts, punct/space/stopword
    ratios, mean token length. All engine-reproducible."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    punct = F.length(t) - F.length(F.regexp_replace(t, PUNCT_RE, ""))
    spaces = F.length(t) - F.length(F.regexp_replace(t, r"\s", ""))
    en_stop = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*STOPWORDS["en"]))
    )
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        # int/int division is bitwise-deterministic — no rounding, so the
        # oracle comparison is exact with zero tie risk.
        (punct / F.greatest(F.length(t), F.lit(1))).alias("punct_ratio"),
        (spaces / F.greatest(F.length(t), F.lit(1))).alias("space_ratio"),
        (en_stop / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
        ((F.length(t) - spaces) / F.greatest(n_tok, F.lit(1))).alias(
            "mean_token_len"
        ),
    )


def token_count_bpe(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counts: whitespace tokens + a BPE-ish regex token count
    (words / numbers / punctuation marks as separate tokens)."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


def _lang_hit_cols(text_col: str):
    """Per-language stopword hit-count columns (pure codegen, no shuffle)."""
    toks = tokens(text_col)

    def _hits(words: list[str]):
        # NB: single-arg lambda — a second (even defaulted) parameter makes
        # PySpark pick the (element, index) higher-order-function form.
        return F.size(F.filter(toks, lambda x: F.lower(x).isin(*words)))

    return {lang: _hits(STOPWORDS[lang]) for lang in sorted(STOPWORDS)}


def pred_lang_col(text_col: str = "text"):
    """argmax language with deterministic tie-break: array of
    (hits, neg-ord, lang) structs — struct comparison is lexicographic, so
    equal hit counts fall back to -i, i.e. the alphabetically-first
    language wins; 'und' when no hits anywhere."""
    hit_cols = _lang_hit_cols(text_col)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    hit_cols[lang].alias("hits"),
                    F.lit(-i).alias("ord"),
                    F.lit(lang).alias("lang"),
                )
                for i, lang in enumerate(sorted(hit_cols))
            ]
        )
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts, argmax wins
    (ties broken by language code asc, 'und' when no hits anywhere).

    At 100 TB this is a single map-side pass: `size(filter(tokens, ...))`
    per language — no shuffle, no UDF, no dictionary broadcast needed.
    """
    hit_cols = _lang_hit_cols(text_col)
    return df.select(
        F.col(id_col),
        *[hits.cast("long").alias(f"hits_{lang}") for lang, hits in hit_cols.items()],
        pred_lang_col(text_col).alias("pred_lang"),
    )


def doc_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fused single-scan document profile: token count, punctuation ratio,
    predicted language, and exact-dedup digest in ONE projection — the
    base relation for composite cleaning passes (`pretrain_clean`). At
    100 TB this replaces three separate corpus scans (text_stats +
    lang_id + doc_fingerprint) and their doc_id re-join shuffles with a
    single whole-stage-codegen pass over the scan."""
    t = F.col(text_col)
    punct = F.length(t) - F.length(F.regexp_replace(t, PUNCT_RE, ""))
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        (punct / F.greatest(F.length(t), F.lit(1))).alias("punct_ratio"),
        pred_lang_col(text_col).alias("pred_lang"),
        fingerprint(text_col).alias("digest"),
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized md5 fingerprint per document (exact-dedup key)."""
    return df.select(F.col(id_col), fingerprint(text_col).alias("digest"))


def _repetition_stats_arrow(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Bit-exact `mapInArrow` twin of `repetition_stats` (round 14).

    Every signal is integer counting + int/int IEEE division, so the
    Python fold reproduces the expression chain exactly: lines split on
    literal newlines keeping empties (Java split limit -1), tokens via
    the 0x20-trim + ASCII-\\s split, n-gram strings joined with single
    spaces, the modal 2-gram tie-break is the smallest gram in code-point
    order (= Spark's UTF8 binary array_sort order), and `F.length`'s
    code-point counting matches Python `len`."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_lines long, dup_line_frac double, "
        "dup_line_char_frac double, top_2gram_count long, "
        "top_2gram_char_frac double, dup_5gram_frac double"
    )

    def fold(batches):
        import re
        from collections import Counter

        import numpy as np
        import pyarrow as pa

        ws = re.compile("[ \t\n\x0b\f\r]+")  # Java regex \s (ASCII)
        for b in batches:
            texts = b.column(1).to_pylist()
            n = len(texts)
            n_lines = np.zeros(n, np.int64)
            dlf = np.zeros(n, np.float64)
            dlcf = np.zeros(n, np.float64)
            t2c = np.zeros(n, np.int64)
            t2f = np.zeros(n, np.float64)
            d5f = np.zeros(n, np.float64)
            is_null = np.zeros(n, bool)
            for i, t in enumerate(texts):
                if t is None:
                    # expr chain: line signals null, but the gram
                    # signals are 0/0.0 — word_shingles' empty-array
                    # guard (greatest(null,1)) eats the null
                    is_null[i] = True
                    continue
                lines = t.split("\n")
                nl = len(lines)
                n_lines[i] = nl
                lc = Counter(lines)
                dlf[i] = (nl - len(lc)) / max(nl, 1)
                n_chars = max(len(t), 1)
                dlcf[i] = (
                    sum(len(l) * c for l, c in lc.items() if c >= 2)
                    / n_chars
                )
                toks = ws.split(t.strip(" "))
                g2 = [
                    a + " " + c for a, c in zip(toks, toks[1:])
                ]
                if g2:
                    c2 = Counter(g2)
                    best = max(c2.values())
                    best_g = min(
                        g for g, c in c2.items() if c == best
                    )
                    t2c[i] = best
                    t2f[i] = best * len(best_g) / n_chars
                m5 = len(toks) - 4
                if m5 >= 1:
                    g5 = {
                        " ".join(toks[j : j + 5]) for j in range(m5)
                    }
                    d5f[i] = (m5 - len(g5)) / m5
            yield pa.record_batch(
                [
                    b.column(0),
                    pa.array(n_lines, pa.int64(), mask=is_null),
                    pa.array(dlf, pa.float64(), mask=is_null),
                    pa.array(dlcf, pa.float64(), mask=is_null),
                    pa.array(t2c, pa.int64()),
                    pa.array(t2f, pa.float64()),
                    pa.array(d5f, pa.float64()),
                ],
                names=[
                    id_col,
                    "n_lines",
                    "dup_line_frac",
                    "dup_line_char_frac",
                    "top_2gram_count",
                    "top_2gram_char_frac",
                    "dup_5gram_frac",
                ],
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        fold, out_schema
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "expr",
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    §A1.1 quality heuristics) — the standard pretrain-corpus filters for
    boilerplate and degenerate text:

    - ``dup_line_frac``: fraction of line instances beyond the first
      occurrence of their value (0 for single-line docs).
    - ``dup_line_char_frac``: fraction of characters contained in lines
      that occur 2+ times.
    - ``top_2gram_count`` / ``top_2gram_char_frac``: occurrences of the
      most frequent word 2-gram (ties -> lexicographically smallest) and
      the fraction of characters it covers.
    - ``dup_5gram_frac``: fraction of word-5-gram instances beyond the
      first occurrence of their value.

    ZERO SHUFFLE: every signal is a per-row array computation — counts
    of duplicate instances come from ``size - size(array_distinct)``,
    and the modal 2-gram from a left fold over the SORTED gram array
    (run-length max with a struct accumulator), so the whole operator is
    one codegen pass over the corpus scan. No (doc, gram) explode, no
    groupBy — the shape that survives 100 TB without moving a byte.

    Ratios are int/int divisions (bitwise-deterministic, no rounding).

    ``impl="arrow"`` computes the same signals in a `mapInArrow` batch
    fold (Counter/set counting — bit-identical: every value is an
    integer count or an int/int IEEE division, no transcendentals;
    differential-tested in tests/test_operators.py).
    """
    if impl == "arrow":
        return _repetition_stats_arrow(df, text_col, id_col)
    t = F.col(text_col)
    toks = tokens(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    sorted_lines = F.array_sort(lines)
    # chars in all instances of duplicated lines: element i is a dup iff
    # it equals its sorted neighbor on either side (F.get is 0-based and
    # NULL out of range — never an ANSI index error)
    dup_line_chars = F.aggregate(
        F.sequence(F.lit(0), n_lines - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.coalesce(
                F.get(sorted_lines, i) == F.get(sorted_lines, i - 1),
                F.lit(False),
            )
            | F.coalesce(
                F.get(sorted_lines, i) == F.get(sorted_lines, i + 1),
                F.lit(False),
            ),
            F.length(F.get(sorted_lines, i)).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    g2 = word_shingles(toks, 2)
    g5 = word_shingles(toks, 5)
    sorted_g2 = F.array_sort(g2)

    # modal 2-gram by run-length over the sorted array; strict > keeps
    # the first (lexicographically smallest) gram on count ties
    def _run_step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["best_g"]).alias("best_g"),
        )

    top = F.aggregate(
        sorted_g2,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit("").alias("best_g"),
        ),
        _run_step,
    )
    n_chars = F.greatest(F.length(t), F.lit(1))
    return df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        (
            (n_lines - F.size(F.array_distinct(lines)))
            / F.greatest(n_lines, F.lit(1))
        ).alias("dup_line_frac"),
        (dup_line_chars / n_chars).alias("dup_line_char_frac"),
        top["best"].alias("top_2gram_count"),
        (top["best"] * F.length(top["best_g"]) / n_chars).alias(
            "top_2gram_char_frac"
        ),
        (
            (F.size(g5) - F.size(F.array_distinct(g5)))
            / F.greatest(F.size(g5), F.lit(1))
        ).alias("dup_5gram_frac"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents for a bag of query terms
    (Robertson/Sparck-Jones idf with the +1 floor, the Lucene form).

    Pure Catalyst: one explode+groupBy computes per-(doc, term) counts —
    filtered to the query terms BEFORE the shuffle, so only matching
    postings move — and the corpus scalars (N, avgdl) ride along as a
    broadcast single-row join, keeping the plan fully distributed (no
    driver collect). Scores round to 6 decimals so a SQL oracle
    reproduces them exactly (the ANN-oracle convention).

    At scale the tf relation is the inverted index: materialize it once
    (bucketed by term) and searches skip the explode entirely — same
    two-table join as `trigram_search`'s indexed path. The corpus
    scalars cost a second (column-pruned) pass here; with a materialized
    index they come from its stats, so an indexed search touches only
    the query terms' postings.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = F.transform(tokens(text_col), lambda x: F.lower(x))
    base = df.select(
        F.col(id_col), F.explode(toks).alias("term"),
        F.size(tokens(text_col)).cast("double").alias("dl"),
    )
    stats = df.select(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(tokens(text_col))).alias("avgdl"),
    )
    tf = (
        base.where(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"),
             F.first("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        # ordered fold (sort by term, then left-fold) — float addition is
        # not associative, so a plain sum() would be partition-order
        # dependent and could flip a 6-decimal rounding tie vs the oracle
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "w"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["w"],
                ),
                6,
            ).alias("bm25")
        )
    )
    return scored.orderBy(F.col("bm25").desc(), id_col).limit(k)


# PII patterns kept deliberately RE2-compatible (no backrefs/lookaround):
# the same strings compile identically under Java regex (Spark) and RE2
# (DuckDB oracle), so scrub results compare bitwise.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-\. ]{7,}[0-9]",
}


def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII hit counts (emails / URLs / phone-ish runs) —
    the measurement half of a scrubbing pass, pure codegen."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        *[
            F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
    )


def _luhn_total(c):
    """Luhn checksum of a digits-only string Column, pure higher-order
    codegen (no UDF): reverse, then fold position-indexed digit terms —
    odd positions from the right are doubled with the classic
    subtract-9 carry fold."""
    chars = F.split(F.reverse(c), "")
    pairs = F.zip_with(
        chars,
        F.sequence(F.lit(0), F.size(chars) - 1),
        lambda ch, i: F.struct(ch.alias("c"), i.alias("i")),
    )

    def term(s):
        d = s.c.cast("int")
        doubled = d * 2 - F.when(d > 4, F.lit(9)).otherwise(F.lit(0))
        return F.when(s.i % 2 == 1, doubled).otherwise(d)

    return F.aggregate(pairs, F.lit(0), lambda acc, s: acc + term(s))


def credit_card_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document credit-card-number detection with LUHN verification
    (round 12): digit runs of 13-19 digits (spaces/dashes allowed as
    group separators) are candidates; a candidate only counts as a
    card when its Luhn checksum verifies — the verify step is what
    separates card numbers from order ids and timestamps, exactly the
    sketch-prunes/exact-verify discipline the heavy-hitter and bloom
    paths use. Pure codegen (regexp + higher-order folds, no UDF), so
    at 100 TB this rides the same scan as the rest of the PII pass.

    Returns (id, n_card_candidates, n_luhn_valid). The scrub half
    stays measurement-first by design: redaction policy (mask valid
    only? all candidates?) is a caller decision this count table
    informs."""
    t = F.col(text_col)
    # lookarounds pin the run boundaries: a 20+-digit id must produce
    # NO candidate, not a 19-digit prefix
    cands = F.regexp_extract_all(
        t,
        F.lit(r"(?<![0-9])[0-9](?:[ -]?[0-9]){12,18}(?![ -]?[0-9])"),
        F.lit(0),
    )
    norm = F.transform(
        cands, lambda c: F.regexp_replace(c, "[ -]", "")
    )
    norm = F.filter(
        norm,
        lambda c: (F.length(c) >= 13) & (F.length(c) <= 19),
    )
    valid = F.filter(norm, lambda c: _luhn_total(c) % 10 == 0)
    return df.select(
        F.col(id_col),
        F.size(norm).cast("long").alias("n_card_candidates"),
        F.size(valid).cast("long").alias("n_luhn_valid"),
    )


def _iban_mod97(c):
    """ISO 13616 mod-97 of an IBAN Column, pure higher-order codegen:
    move the first 4 chars to the end, map letters to two digits
    (A=10..Z=35), then a Horner fold ``acc = (acc*10 + digit) % 97``
    — letters push their two digits in sequence. Valid IBANs fold to
    exactly 1."""
    rearranged = F.concat(F.substr(c, F.lit(5)), F.substring(c, 1, 4))
    chars = F.split(rearranged, "")

    def step(acc, ch):
        code = F.ascii(ch)
        v = code - 55  # letters: 'A' (65) -> 10 ... 'Z' -> 35
        hi = F.when(v < 20, 1).when(v < 30, 2).otherwise(3)
        as_letter = ((acc * 10 + hi) % 97 * 10 + v % 10) % 97
        as_digit = (acc * 10 + (code - 48)) % 97
        return F.when((code >= 65) & (code <= 90), as_letter).otherwise(
            as_digit
        )

    return F.aggregate(chars, F.lit(0), step)


def iban_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document IBAN detection with MOD-97 verification (round 12,
    the Luhn companion): candidates are boundary-pinned
    ``CC`` + 2 check digits + 10-30 alphanumerics; a candidate only
    counts when the ISO 13616 rearranged mod-97 folds to 1 — the
    verify step that separates account numbers from ticket ids. The
    per-country LENGTH registry is deliberately NOT encoded (a
    hand-recalled table would be silently wrong — the multimodal
    mp3-Huffman lesson); structure + checksum already reject ~99% of
    non-IBANs (random check digits pass 1/97). Pure codegen, returns
    (id, n_iban_candidates, n_mod97_valid)."""
    t = F.col(text_col)
    cands = F.regexp_extract_all(
        t,
        F.lit(r"(?<![A-Z0-9])[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}(?![A-Z0-9])"),
        F.lit(0),
    )
    valid = F.filter(cands, lambda c: _iban_mod97(c) == 1)
    return df.select(
        F.col(id_col),
        F.size(cands).cast("long").alias("n_iban_candidates"),
        F.size(valid).cast("long").alias("n_mod97_valid"),
    )


def pii_scrub_verified(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Checksum-GATED redaction (round 12): replace only the card /
    IBAN candidates whose Luhn / mod-97 checks VERIFY with '<CARD>' /
    '<IBAN>' — the low-false-positive policy (`pii_scrub`'s regex-only
    redaction would eat order ids and ticket numbers; a verified
    16-digit Luhn hit is a card with probability ~1). Pure codegen:
    extract candidates, filter by checksum, then fold boundary-anchored
    `regexp_replace`s over the text — no UDF, rides the cleaning scan.

    The fold re-wraps each verified candidate in the SAME lookarounds
    the extraction used, so a candidate that also appears as a strict
    substring of a longer digit run (which the extraction regex
    deliberately rejected) is left untouched — a plain substring
    replace would corrupt e.g. a 21-digit order id that happens to
    embed a valid 16-digit card. Candidates can only contain
    ``[0-9 -]`` (cards) / ``[A-Z0-9]`` (IBANs) by construction of the
    extraction patterns, so no regex metacharacter escaping is needed
    when splicing them back into a pattern."""
    t = F.col(text_col)
    cards = F.filter(
        F.regexp_extract_all(
            t,
            F.lit(r"(?<![0-9])[0-9](?:[ -]?[0-9]){12,18}(?![ -]?[0-9])"),
            F.lit(0),
        ),
        lambda c: (
            (F.length(F.regexp_replace(c, "[ -]", "")) >= 13)
            & (F.length(F.regexp_replace(c, "[ -]", "")) <= 19)
            & (_luhn_total(F.regexp_replace(c, "[ -]", "")) % 10 == 0)
        ),
    )
    ibans = F.filter(
        F.regexp_extract_all(
            t,
            F.lit(
                r"(?<![A-Z0-9])[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}(?![A-Z0-9])"
            ),
            F.lit(0),
        ),
        lambda c: _iban_mod97(c) == 1,
    )
    out = F.aggregate(
        cards,
        t,
        lambda acc, c: F.regexp_replace(
            acc,
            F.concat(F.lit("(?<![0-9])"), c, F.lit("(?![ -]?[0-9])")),
            F.lit("<CARD>"),
        ),
    )
    out = F.aggregate(
        ibans,
        out,
        lambda acc, c: F.regexp_replace(
            acc,
            F.concat(F.lit("(?<![A-Z0-9])"), c, F.lit("(?![A-Z0-9])")),
            F.lit("<IBAN>"),
        ),
    )
    return df.withColumn(text_col, out)


def pii_scrub(
    df: DataFrame, text_col: str = "text", kinds: list[str] | None = None
) -> DataFrame:
    """Redact PII in place: each kind replaced by its '<KIND>' tag, in a
    fixed kind order so the rewrite is deterministic. Map-side only —
    at 100 TB this runs inside the same scan as the rest of the
    cleaning pass."""
    out = F.col(text_col)
    for name in kinds or sorted(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return df.withColumn(text_col, out)


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int = 1,
) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-one-
    smoothed unigram LM on the corpus itself, then score every document
    by its average token log-probability (a perplexity proxy — low
    scores mark boilerplate-free rare-token junk, high scores mark
    head-distribution text). The CCNet pipeline buckets a crawl into
    head/middle/tail by exactly this kind of LM score.

    Engine-reproducible by construction: per-token log-probs quantize to
    integer micro-nats (``round(ln(p) * 1e6)::BIGINT``) BEFORE the
    per-document sum, so the fold is exact long addition — order- and
    partitioning-independent — and the final ``sum / (n * 1e6)`` is one
    deterministic double division (same discipline as
    `functions.money_sum`).

    Scale shape: one token explode feeding two aggregates (vocab count,
    then per-doc sum) plus one token-keyed equi-join of the exploded
    relation against the vocab. Both aggregates partial-combine map-side.
    The vocab join key is Zipf-skewed ("the" dominates); when the vocab
    fits executor memory Spark broadcasts it outright (no shuffle on the
    token key at all — the default plan here). At open-web scale the
    vocab outgrows the broadcast threshold and the sort-merge join would
    funnel the head key through one task; pass ``salt > 1`` to take the
    `skew.salted_join` path — deterministic fact-side salt + vocab
    replicated ``salt``×, both sides explicitly co-partitioned on
    (token, salt) so neither Catalyst nor AQE can re-concentrate the hot
    key (VERDICT r10 #2; plan + spread pinned by
    tests/test_plans.py::test_lm_salted_join_spreads_hot_key).
    Documents with zero alphabetic tokens carry no LM evidence and are
    omitted (join semantics, documented).
    """
    from lakota_spark.operators.skew import salted_join
    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
    )
    tok = df.select(F.col(id_col), F.explode(words).alias("token"))
    # vocab feeds TWO consumers (the one-row stats aggregate and the
    # lp relation) whose subtrees diverge under per-consumer pushdown,
    # defeating exchange reuse — without the checkpoint each re-runs
    # the corpus token explode+groupBy (r13 plan audit: 3 parquet
    # scans -> 2). The vocab is the SMALL relation (distinct tokens),
    # so the lazy executor-local materialization is cheap.
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    stats = vocab.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("v")
    )
    lp = vocab.join(F.broadcast(stats)).select(
        "token",
        F.round(
            F.log((F.col("c") + F.lit(1.0)) / (F.col("total") + F.col("v")))
            * 1000000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        salted_join(tok, lp, "token", salt=salt)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (
                F.col("sum_lp")
                / (F.col("n_tokens") * F.lit(1000000))
            ).alias("avg_logprob"),
        )
    )


def _winnow_cols(text_col: str, k: int, w: int):
    """(gram-hash array, distinct winnowed fingerprint array) columns.

    Window minimum as a zip_with(least) chain over w shifted slice
    views — w slices per doc instead of one per POSITION (the same
    trick as `functions.word_shingles`; the per-position
    array_min(slice(...)) form re-sliced at every offset and measured
    ~6 s at sf0.1 / 56 s at 10x vs ~1 s / ~8 s for this chain)."""
    from lakota_spark.functions import hash32, tokens, word_shingles

    grams = F.transform(
        word_shingles(tokens(text_col), k), lambda s: hash32(s)
    )
    n_win = F.size(grams) - F.lit(w - 1)
    m = F.greatest(n_win, F.lit(1))
    acc = F.slice(grams, F.lit(1), m)
    for j in range(1, w):
        acc = F.zip_with(
            acc, F.slice(grams, F.lit(j + 1), m), lambda a, b: F.least(a, b)
        )
    wins = F.when(n_win >= 1, acc).otherwise(F.array().cast("array<long>"))
    return grams, F.array_distinct(wins)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    impl: str = "expr",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional word
    ``k``-gram, slide a window of ``w`` consecutive hashes, keep each
    window's minimum. Guarantees every shared run of ``w+k-1`` words
    between two documents contributes at least one shared fingerprint —
    the local-sampling property plain MinHash lacks — so the selected
    set supports partial-overlap/plagiarism detection, not just
    whole-document similarity.

    This emits the robust summary per document: fingerprint count, exact
    long sum, min and max of the distinct selected hashes (set-equality
    evidence without shipping the sets). The selection is ALL map-side
    compute — zero shuffle, one corpus scan; hashes are md5-derived
    (`functions.hash32`) so a SQL oracle reproduces them bit-for-bit.

    ``impl`` selects between two bit-identical implementations
    (differential-tested in tests/test_operators.py): ``"expr"`` — the
    per-row Catalyst expression chain (zero Python boundary); ``"arrow"``
    — a `mapInArrow` batch fold (hashlib.md5 + numpy sliding-min), the
    guide-§4.2 shape where per-batch native code replaces the O(k·m)
    zip_with chains.
    """
    if impl == "arrow":
        return _winnow_fingerprints_arrow(df, text_col, id_col, k, w)
    grams, fp = _winnow_cols(text_col, k, w)
    return df.select(
        F.col(id_col),
        F.size(grams).cast("long").alias("n_grams"),
        F.size(fp).cast("long").alias("n_fps"),
        F.aggregate(
            fp, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("fp_sum"),
        F.array_min(fp).alias("fp_min"),
        F.array_max(fp).alias("fp_max"),
    )


def _winnow_fingerprints_arrow(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """Bit-exact `mapInArrow` twin of the winnow expression chain.

    Semantics replicated from the Catalyst version, in order:
    `F.trim` strips 0x20 spaces ONLY; `F.split(_, r"\\s+")` uses Java's
    ASCII ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]`` with limit -1 (leading/
    trailing separators produce empty tokens, '' splits to ['']);
    `hash32` is the first 4 bytes of md5(utf-8) as an unsigned int;
    windows of ``w`` consecutive gram hashes keep their minimum; the
    distinct fingerprint set is summarized (count / exact sum / min /
    max, empty set -> 0/0/null/null). Only (id, text) cross the Python
    boundary (guide §4.1: project before an opaque op); md5 + the
    numpy sliding-min are once-per-batch native folds (guide §4.2).
    Null text yields the chain's 0/0/0/null/null row; the id column
    keeps its input type.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_grams long, n_fps long, "
        "fp_sum long, fp_min long, fp_max long"
    )

    def fold(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        ws = re.compile("[ \t\n\x0b\f\r]+")  # Java regex \s (ASCII)
        md5 = hashlib.md5
        for b in batches:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            n = len(texts)
            ng = np.zeros(n, np.int64)
            nf = np.zeros(n, np.int64)
            fsum = np.zeros(n, np.int64)
            fmin = np.zeros(n, np.int64)
            fmax = np.zeros(n, np.int64)
            has_fp = np.zeros(n, bool)
            for i, t in enumerate(texts):
                if t is None:
                    continue  # null text: no grams, no fingerprints
                toks = ws.split(t.strip(" "))
                m = len(toks) - (k - 1)
                if m < 1:
                    continue  # n_grams 0, no fingerprints
                ng[i] = m
                h = np.fromiter(
                    (
                        int.from_bytes(
                            md5(" ".join(toks[j : j + k]).encode()).digest()[
                                :4
                            ],
                            "big",
                        )
                        for j in range(m)
                    ),
                    np.int64,
                    m,
                )
                nwin = m - (w - 1)
                if nwin < 1:
                    continue  # grams but no full window: empty fp set
                acc = h[:nwin].copy()
                for j in range(1, w):
                    np.minimum(acc, h[j : j + nwin], out=acc)
                fps = np.unique(acc)
                nf[i] = fps.size
                fsum[i] = fps.sum()
                fmin[i] = fps[0]
                fmax[i] = fps[-1]
                has_fp[i] = True
            yield pa.record_batch(
                [
                    ids,
                    pa.array(ng, pa.int64()),
                    pa.array(nf, pa.int64()),
                    pa.array(fsum, pa.int64()),
                    pa.array(fmin, pa.int64(), mask=~has_fp),
                    pa.array(fmax, pa.int64(), mask=~has_fp),
                ],
                names=[
                    id_col, "n_grams", "n_fps", "fp_sum", "fp_min", "fp_max"
                ],
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        fold, out_schema
    )


def quality_gate_col(
    text_col: str = "text",
    min_tokens: int = 25,
    max_tokens: int = 5000,
    min_mwl: float = 3.0,
    max_mwl: float = 8.0,
    max_punct: float = 0.1,
):
    """Gopher/C4-style document-quality KEEP predicate as one boolean
    Column: token-count window, mean-word-length window, punctuation
    ratio cap. Every signal is per-row codegen (the same expressions as
    `text_stats`), so the predicate applies identically to batch frames
    and to streams — the stateless ingest filter every crawl pipeline
    runs before anything stateful."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    spaces = F.length(t) - F.length(F.regexp_replace(t, r"\s", ""))
    punct = F.length(t) - F.length(F.regexp_replace(t, PUNCT_RE, ""))
    mwl = (F.length(t) - spaces) / F.greatest(n_tok, F.lit(1))
    pr = punct / F.greatest(F.length(t), F.lit(1))
    return (
        (n_tok >= F.lit(min_tokens))
        & (n_tok <= F.lit(max_tokens))
        & (mwl >= F.lit(min_mwl))
        & (mwl <= F.lit(max_mwl))
        & (pr <= F.lit(max_punct))
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the classic
    junk detector: near-zero entropy marks run-on repeated characters,
    abnormally high entropy marks base64/binary spill. Zero shuffle:
    the character histogram and the entropy fold are per-row array
    math over the distinct characters of the document.

    Exactness: each character's term ``p·log2(p)`` quantizes to an
    integer micro-bit BEFORE the sum (long addition — order-free), so
    the oracle compare is exact like every other log-based score here.

    Edge semantics: empty text is guarded to an empty char array
    (``F.split('', '')`` would otherwise yield ``['']`` and report
    n_chars_split=1); characters outside the BMP (astral plane) are
    split into UTF-16 surrogate halves by Java's regex engine, so for
    such documents the "character" unit is the UTF-16 code unit — a
    known divergence from per-codepoint engines, acceptable for a
    junk-score where surrogate halves still measure repetitiveness.
    """
    t = F.col(text_col)
    chars = F.when(F.length(t) > 0, F.split(t, "")).otherwise(
        F.array().cast("array<string>")
    )
    n = F.size(chars)
    distinct = F.array_distinct(chars)
    # one filter-count per distinct char (|distinct| × len ops, bounded
    # by the alphabet); the count binds ONCE into a counts array so the
    # p·log2(p) term doesn't re-run the filter pass inside the log
    counts = F.transform(
        distinct, lambda c: F.size(F.filter(chars, lambda x: x == c))
    )
    micro = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, cnt: acc
        + F.round((cnt / n) * F.log2(cnt / n) * 1000000).cast("long"),
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars_split"),
        F.size(distinct).cast("long").alias("n_distinct_chars"),
        (-micro / F.lit(1000000.0)).alias("entropy_bits"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking — the standard pre-embedding
    step of retrieval/RAG pipelines: each document explodes into
    windows of ``chunk_tokens`` whitespace tokens starting every
    ``stride`` tokens (overlap = chunk_tokens - stride), each chunk
    carrying provenance (doc id, chunk index, token offset).

    Scale shape: one map-side explode — window starts come from a
    `sequence` with step, the chunk text from one `slice` per start; no
    shuffle, no window function, output size n_tokens/stride per doc.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    exploded = df.select(
        F.col(id_col),
        n.alias("_n"),
        F.explode(starts).alias("start_tok"),
        toks.alias("_tk"),
    )
    chunk = F.slice(F.col("_tk"), F.col("start_tok"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        ((F.col("start_tok") - 1) / F.lit(stride))
        .cast("long")
        .alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def ccnet_buckets_scalable(
    scored: DataFrame,
    lang_col: str = "lang",
    score_col: str = "avg_logprob",
    accuracy: int = 10000,
) -> DataFrame:
    """Two-pass CCNet head/middle/tail stratification — the CLUSTER-SCALE
    form of the exact per-lang ``ntile(3)`` window (`queries/pipeline.
    ccnet_buckets`): the window funnels each language through ONE task,
    so a billion-doc `en` slice bottlenecks there. This variant instead

    1. sketches per-lang score TERTILE BOUNDARIES with
       ``percentile_approx`` (fixed-size mergeable sketch, partial-agg
       map-side — one tiny relation, ≤ n_langs rows), then
    2. assigns buckets map-side via two comparisons against the
       broadcast boundaries — no window, every stage fully parallel.

    Trade-off: boundary ties land whole tied runs in one bucket, so
    bucket sizes are approximately-equal thirds instead of ntile's
    exact ±1 split (closeness pinned by test vs the exact form). Use
    this above the single-task window ceiling; the oracle-exact ntile
    stays the default (NOTES r7 scale probe).

    NULL handling (divergence from the ntile form beyond tie
    placement): the boundary join is null-SAFE, so lang=NULL documents
    (langid failures) form their own stratum instead of being silently
    dropped; documents whose score is NULL — or whose language has no
    non-NULL scores at all, leaving no boundaries — land in bucket 3
    (tail), where unscorable content belongs in a curation pipeline.
    The exact window form instead places NULL scores wherever ntile's
    null-first sort ordering puts them."""
    bounds = scored.groupBy(lang_col).agg(
        F.percentile_approx(
            score_col, [2.0 / 3.0, 1.0 / 3.0], accuracy
        ).alias("_b")
    )
    bounds = bounds.withColumnRenamed(lang_col, "_lang_b")
    assigned = scored.join(
        F.broadcast(bounds),
        F.col(lang_col).eqNullSafe(F.col("_lang_b")),
        "left",
    ).drop("_lang_b").withColumn(
        "bucket",
        F.when(F.col(score_col) >= F.col("_b")[0], F.lit(1))
        .when(F.col(score_col) >= F.col("_b")[1], F.lit(2))
        .otherwise(F.lit(3))
        .cast("long"),
    )
    return assigned.groupBy(lang_col, "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(score_col).alias("min_logprob"),
        F.max(score_col).alias("max_logprob"),
    )


def _winnow_fp_table_arrow(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """Exploded (doc, fp) winnow fingerprint relation via `mapInArrow` —
    the cardinality-changing twin of `_winnow_fingerprints_arrow` (same
    bit-exact tokenize/hash/window fold, emits the distinct fingerprint
    SET per doc instead of its summary). Docs with no full window emit
    nothing, exactly like exploding the expr chain's empty array."""
    def fold(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        ws = re.compile("[ \t\n\x0b\f\r]+")  # Java regex \s (ASCII)
        md5 = hashlib.md5
        for b in batches:
            texts = b.column(1).to_pylist()
            idx: list = []
            vals: list = []
            for i, t in enumerate(texts):
                if t is None:
                    continue
                toks = ws.split(t.strip(" "))
                m = len(toks) - (k - 1)
                nwin = m - (w - 1)
                if nwin < 1:
                    continue
                h = np.fromiter(
                    (
                        int.from_bytes(
                            md5(" ".join(toks[j : j + k]).encode()).digest()[
                                :4
                            ],
                            "big",
                        )
                        for j in range(m)
                    ),
                    np.int64,
                    m,
                )
                acc = h[:nwin].copy()
                for j in range(1, w):
                    np.minimum(acc, h[j : j + nwin], out=acc)
                fps = np.unique(acc)
                idx.append(np.full(fps.size, i, np.int32))
                vals.append(fps)
            if idx:
                indices = pa.array(np.concatenate(idx))
                fp_col = pa.array(np.concatenate(vals), pa.int64())
            else:
                indices = pa.array([], pa.int32())
                fp_col = pa.array([], pa.int64())
            yield pa.record_batch(
                [b.column(0).take(indices), fp_col],
                names=["doc", "fp"],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        fold, f"doc {id_type}, fp long"
    )


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = 1000,
    impl: str = "expr",
) -> DataFrame:
    """Fingerprint-based near-dup candidate pairs — the MOSS use of the
    winnowed set: docs sharing ≥ ``min_shared`` fingerprints. The
    local-sampling guarantee makes this the PARTIAL-overlap complement
    of whole-document MinHash banding: any shared w+k-1-word run
    contributes a shared fingerprint, so plagiarized passages between
    otherwise-different documents surface here that LSH banding misses.

    Scale shape (the LSH-band discipline): explode fingerprints, drop
    hot buckets above ``max_bucket`` (boilerplate fingerprints — the
    documented coverage cap, same contract as `dedup.lsh_candidates`),
    equi-join on fingerprint with doc_a < doc_b, partial-agg count per
    pair. Never all-pairs; in-bucket fan-out is bounded by the cap.
    """
    # the exploded fingerprint relation feeds THREE consumers (the
    # hot-bucket cap groupBy and BOTH sides of the self-join); without a
    # checkpoint each re-runs the winnow chain — measured 19.7 s vs
    # ~4 s at sf0.1 (the langid/dsir localCheckpoint discipline; see
    # tests/test_plans.py recompute guard). impl="arrow" derives the
    # relation with the per-batch hashlib/numpy fold instead of the
    # zip_with expression chain (bit-identical; round-14 A/B).
    if impl == "arrow":
        e = _winnow_fp_table_arrow(df, text_col, id_col, k, w)
    else:
        _, fp = _winnow_cols(text_col, k, w)
        e = df.select(
            F.col(id_col).alias("doc"), F.explode(fp).alias("fp")
        )
    e = e.localCheckpoint(eager=False)
    if max_bucket is not None:
        ok = (
            e.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_bucket)
            .select("fp")
        )
        # the capped relation is consumed twice by the self-join but is
        # deliberately NOT pinned (ADVICE r13 double-pin): each side
        # re-runs only the cheap cap join over the PINNED base, while
        # pinning it would hold a second full-relation copy for the
        # query lifetime. Round-14 interleaved A/B (single vs double
        # pin, arrow fold, sf0.1): 0.87x at 32 cores / 0.96x at 8,
        # outputs identical.
        e = e.join(ok, "fp")
    a = e.select(F.col("fp"), F.col("doc").alias("doc_a"))
    b = e.select(F.col("fp"), F.col("doc").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def _char_ngram_expr(text_col: str, n: int):
    """All overlapping character ``n``-grams of ``lower(text_col)``, WITH
    multiplicity (multinomial evidence — unlike the distinct-gram trigram
    index). Built as a zip_with(concat) chain over n shifted slices of
    the split-to-chars array — the `functions.word_shingles` trick: n-1
    element-wise zips instead of one interpreted substring call per
    POSITION (the transform(sequence...) form measured 28 s vs 10 s for
    this chain at a 17.5M-gram corpus; outputs are identical). Code
    points, not graphemes (regex split('') keeps surrogate pairs whole,
    matching substring()'s code-point counting). Same ``sequence(1, 0)``
    descent guard as `_trigram_expr` via the length-<n short-circuit."""
    t = F.lower(F.col(text_col))
    chars = F.split(t, "")
    out = None
    for i in range(n):
        s = F.slice(
            chars, i + 1, F.greatest(F.size(chars) - F.lit(i), F.lit(0))
        )
        out = (
            s
            if out is None
            else F.zip_with(out, s, lambda a, b: F.concat(a, b))
        )
    return F.when(
        F.length(t) >= n,
        F.slice(out, 1, F.length(t) - (n - 1)),
    ).otherwise(F.array().cast("array<string>"))


def langid_char_grams(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Shared (doc_id, lang, g) exploded char-gram relation for a
    fit+predict chain over the SAME corpus: the n-1-zip_with gram chain
    is the expensive pass, and running it once (checkpointed) instead
    of once in the fit and again in the predict halves the corpus cost
    of `langid_ngram_confusion` (the winnow_dup_pairs recompute
    discipline). Outer explode: evidence-free docs keep one null-g row
    so predict still emits them; the fit drops nulls."""
    return df.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode_outer(_char_ngram_expr(text_col, n)).alias("g"),
    ).localCheckpoint(eager=False)


def langid_ngram_fit(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    min_count: int = 1,
    tok: DataFrame | None = None,
):
    """Fit a Cavnar-Trenkle-style character-n-gram naive-Bayes language
    model from a labelled corpus: ``P(gram | lang)`` with add-one
    smoothing over the GLOBAL gram vocabulary, quantized to integer
    micro-nats (the `unigram_lm_scores` discipline — exact long folds,
    order/partitioning independent).

    Returns ``(model, langs)``:

    - ``model``: one row per (cand, g) seen in training with
      ``lp_micro = round(ln((c+1) / (total_cand + V)) * 1e6)`` — the
      log-likelihood contribution of one occurrence of gram ``g`` under
      language ``cand``.
    - ``langs``: one row per language with ``default_lp_micro`` — the
      smoothed log-prob of a gram UNSEEN under that language (so a
      document's full score needs only the matched grams plus a count).

    This is the learned complement of the fixed-list stopword heuristic
    `lang_id`: that one is a zero-shuffle scan with hand-picked features;
    this one learns its features from labels (the fastText-style
    pretrain-pipeline shape) and handles any script.

    Scale shape: ONE token explode feeding one partial-agg
    groupBy(lang, gram); the per-lang totals and global vocabulary size
    are one-row/tiny aggregates broadcast back onto the counts relation.
    The model relation is (distinct grams x langs) rows — broadcastable;
    at open-web scale cap it with ``min_count`` (grams below it fall back
    to the unseen default, the Cavnar-Trenkle profile-truncation knob —
    a map-side filter, no extra pass).
    """
    if tok is None:
        tok = df.select(
            F.col(lang_col).alias("cand"),
            F.explode(_char_ngram_expr(text_col, n)).alias("g"),
        )
    else:
        # shared pre-tokenized relation (langid_char_grams): outer
        # explode carries null-g rows for evidence-free docs — drop
        # them here (plain explode semantics)
        tok = tok.where(F.col("g").isNotNull()).select(
            F.col(lang_col).alias("cand"), "g"
        )
    # the counts relation (distinct grams x langs - small) feeds THREE
    # consumers (model, vocab, per-lang totals); without a checkpoint
    # each would re-run the full corpus explode+groupBy (the dsir
    # localCheckpoint discipline - measured 3x the corpus scans)
    counts = (
        tok.groupBy("cand", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = counts.agg(F.countDistinct("g").alias("v"))
    if min_count > 1:
        counts = counts.where(F.col("c") >= min_count)
    totals = counts.groupBy("cand").agg(F.sum("c").alias("total"))
    # one-row broadcast stats join (same pattern as unigram_lm_scores)
    denom = F.col("total") + F.col("v")
    model = counts.join(F.broadcast(totals), "cand").join(
        F.broadcast(vocab)
    ).select(
        "cand",
        "g",
        F.round(F.log((F.col("c") + F.lit(1.0)) / denom) * 1000000)
        .cast("long")
        .alias("lp_micro"),
    )
    langs = totals.join(F.broadcast(vocab)).select(
        "cand",
        F.round(F.log(F.lit(1.0) / denom) * 1000000)
        .cast("long")
        .alias("default_lp_micro"),
    )
    return model, langs


def langid_ngram_predict(
    df: DataFrame,
    model: DataFrame,
    langs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tok: DataFrame | None = None,
    salt: int = 1,
    carry: list[str] | None = None,
) -> DataFrame:
    """Predict the max-likelihood language per document under a fitted
    `langid_ngram_fit` model. Exact integer scoring:

        score(doc, cand) = sum over matched gram occurrences of lp_micro
                         + (n_grams - matched) * default_lp_micro(cand)

    Documents shorter than ``n`` chars carry zero evidence, score 0
    under every language, and take the deterministic tie-break
    (alphabetically-first language), so no document is dropped.

    Scale shape: the model is pivoted WIDE (one row per gram, one
    lp column per language), so the whole predict is one gram explode
    -> one broadcast LEFT equi-join (join output = gram rows, not
    gram x langs — the long-model form measured 2x slower at 100x
    corpus from the n_langs fan-out plus a second docs x langs join)
    -> ONE groupBy(doc) partial agg (n_langs sum/count pairs fold
    map-side) -> per-doc argmax over an n_langs struct array, pure
    codegen. The language list + default log-probs are collected
    driver-side (n_langs rows — the centroids-class bounded driver
    aggregate) to name the pivot columns; ``explode_outer`` keeps
    evidence-free docs as one null-gram row that ``count(g)`` ignores.
    The gram key is Zipf-skewed; the explicit broadcast keeps the probe
    relation unshuffled (the default, and the right plan while the wide
    model fits — min_count truncation in the fit bounds it). If the
    model must stay distributed, pass ``salt > 1`` for the
    `skew.salted_join` path (deterministic probe-side salt, model
    replicated, co-partitioned on (g, salt) — VERDICT r10 #2).
    """
    lang_rows = sorted(
        (r["cand"], r["default_lp_micro"]) for r in langs.collect()
    )
    if not lang_rows:
        return (
            df.select(F.col(id_col), *[F.col(c) for c in (carry or [])])
            .limit(0)
            .withColumns(
                {
                    "pred_lang": F.lit(None).cast("string"),
                    "score_micro": F.lit(None).cast("long"),
                }
            )
        )
    names = [c for c, _ in lang_rows]
    wide = (
        model.groupBy("g")
        .pivot("cand", names)
        .agg(F.first("lp_micro"))
        .toDF("g", *[f"_lp_{i}" for i in range(len(names))])
    )
    # ``carry``: doc-level columns (functionally dependent on id_col)
    # threaded through the explode and into the per-doc groupBy keys, so
    # a caller that needs (doc attr, prediction) — the confusion matrix —
    # skips a full docs-vs-predictions equi-join (2 exchanges + 2 sorts
    # at local scale; a whole doc-keyed shuffle at cluster scale). The
    # partial-agg exchange carries one row per doc either way, so the
    # extra key bytes are per-doc, not per-gram. Intended for the
    # broadcast path: under salt>1 the carried columns ride the
    # per-GRAM salted exchange (measured ~15% slower in the r13 A/B —
    # the confusion pipeline keeps the per-doc join there instead).
    carry = carry or []
    reserved = {"g", "n_g", "pred_lang", "score_micro", id_col}
    bad = [
        c
        for c in carry
        if c in reserved or c.startswith(("_lp_", "_s_", "_m_"))
    ]
    if bad:  # a collision would silently corrupt the pivot scoring
        raise ValueError(
            f"carry columns collide with langid internals: {bad}"
        )
    if tok is None:
        tok = df.select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.explode_outer(_char_ngram_expr(text_col, n)).alias("g"),
        )
    else:
        tok = tok.select(F.col(id_col), *carry, "g")
    if salt > 1:
        from lakota_spark.operators.skew import salted_join

        joined = salted_join(tok, wide, "g", salt=salt, how="left")
    else:
        joined = tok.join(F.broadcast(wide), "g", "left")
    per_doc = (
        joined
        .groupBy(id_col, *carry)
        .agg(
            F.count("g").alias("n_g"),
            *[
                a
                for i in range(len(names))
                for a in (
                    F.sum(f"_lp_{i}").alias(f"_s_{i}"),
                    F.count(f"_lp_{i}").alias(f"_m_{i}"),
                )
            ],
        )
    )
    scores = [
        (
            F.coalesce(F.col(f"_s_{i}"), F.lit(0))
            + (F.col("n_g") - F.col(f"_m_{i}")) * F.lit(dlp)
        )
        for i, (_, dlp) in enumerate(lang_rows)
    ]
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (-scores[i]).alias("neg_s"),
                    F.lit(name).alias("cand"),
                )
                for i, name in enumerate(names)
            ]
        )
    )
    return per_doc.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        best["cand"].alias("pred_lang"),
        (-best["neg_s"]).alias("score_micro"),
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff_num: int = 2,
    backoff_den: int = 5,
    fit_df: DataFrame | None = None,
    salt: int = 1,
) -> DataFrame:
    """Stupid-Backoff bigram LM quality scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the n-gram upgrade
    of `unigram_lm_scores`, one step toward CCNet's KenLM 5-gram: score
    position i by ``c(w_{i-1} w_i) / c(w_{i-1})`` when the bigram was
    seen, else back off to ``0.4 · c(w_i) / N`` (0.4 as the exact
    rational ``backoff_num/backoff_den``); the first token scores by its
    unigram probability. Repetitive/boilerplate text scores high,
    incoherent token-soup low — a sharper perplexity proxy than the
    unigram model, which cannot see word ORDER at all.

    Engine-exact discipline (`unigram_lm_scores`): every per-position
    log-prob is ONE ``ln`` of a ratio of exact integer casts —
    ``ln(c12/c1)``, ``ln(c/N)`` or ``ln((num·c)/(den·N))`` — quantized
    to integer micro-nats BEFORE the per-document sum, so the fold is
    exact long addition and a SQL oracle reproduces it bit-for-bit.

    Scale shape: one per-position explode (prev, cur) feeds the bigram
    and unigram count aggregates (both partial-combine map-side), then
    three equi-joins back onto the position relation (bigram left join +
    two vocab lookups) and one per-doc groupBy. Join keys are Zipf
    tokens; Spark broadcasts the vocab/bigram relations outright when
    they fit (the default plan here). At open-web scale the bigram
    relation cannot broadcast and a sort-merge join would funnel the
    head keys ("of the") through single tasks — pass ``salt > 1`` to
    route all three lookups through `skew.salted_join`: deterministic
    position-side salt, count relations replicated ``salt``×, both
    sides explicitly co-partitioned on (key…, salt) so neither Catalyst
    nor AQE re-concentrates a hot key (VERDICT r10 #2; spread pinned by
    tests/test_plans.py::test_lm_salted_join_spreads_hot_key). Docs
    with zero alphabetic tokens carry no evidence and are omitted (join
    semantics, as in the unigram form).

    ``fit_df`` scores ``df`` under counts fitted on a DIFFERENT corpus
    (the held-out / on-ingest shape); scoring tokens absent from the fit
    vocabulary carry no evidence and their positions are dropped (inner
    vocab join), matching the unigram form's semantics. Self-scoring
    (the default) never reaches the backoff branch — every bigram of the
    scored text is by construction in its own counts — so backoff only
    prices unseen ADJACENCIES of known words on held-out text.
    """
    if backoff_num <= 0 or backoff_den <= 0:
        raise ValueError("bigram_lm_scores needs positive backoff ratio")
    def positions(rel: DataFrame) -> DataFrame:
        words = F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
        )
        base = rel.select(F.col(id_col), words.alias("_w"))
        n_w = F.size("_w")
        # per-position (prev, cur): prev NULL at position 1
        prevs = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice("_w", 1, F.greatest(n_w - 1, F.lit(0))),
        )
        return base.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(prevs.alias("prev"), F.col("_w").alias("cur"))
            ).alias("_pc"),
        ).select(
            F.col(id_col),
            F.col("_pc.prev").alias("prev"),
            F.col("_pc.cur").alias("cur"),
        )

    pr = positions(df).localCheckpoint(eager=False)  # consumers below
    fit_pr = pr if fit_df is None else positions(fit_df).localCheckpoint(
        eager=False
    )
    # uni feeds THREE consumers (nn, cu, cp) — without a checkpoint each
    # re-aggregates the full checkpointed position relation (r13 plan
    # audit). The unigram vocab is the small relation; materialize once.
    uni = (
        fit_pr.groupBy(F.col("cur").alias("token"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    nn = uni.agg(F.sum("c").alias("n"))
    bi = (
        fit_pr.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    cu = uni.select(F.col("token").alias("cur"), F.col("c").alias("_cc"))
    cp = uni.select(F.col("token").alias("prev"), F.col("c").alias("_cp"))
    from lakota_spark.operators.skew import salted_join

    scored = salted_join(
        salted_join(
            salted_join(pr, cu, "cur", salt=salt),
            cp, "prev", salt=salt, how="left",
        ),
        bi, ["prev", "cur"], salt=salt, how="left",
    ).join(F.broadcast(nn))
    lp = (
        F.when(
            F.col("prev").isNull(),
            F.log(F.col("_cc").cast("double") / F.col("n").cast("double")),
        )
        .when(
            F.col("c12").isNotNull(),
            F.log(F.col("c12").cast("double") / F.col("_cp").cast("double")),
        )
        .otherwise(
            F.log(
                (F.lit(int(backoff_num)) * F.col("_cc")).cast("double")
                / (F.lit(int(backoff_den)) * F.col("n")).cast("double")
            )
        )
    )
    return (
        scored.select(
            F.col(id_col),
            F.round(lp * 1000000).cast("long").alias("lp_micro"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (
                F.col("sum_lp") * 1.0 / (F.col("n_tokens") * 1000000)
            ).alias("avg_logprob"),
        )
    )


def encoding_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document encoding-quality signals — the mojibake/corruption
    triage every crawl ingest runs before spending tokens on bad bytes:
    U+FFFD replacement characters (decoder damage), C0 control
    characters other than tab/newline/CR (binary leakage), and the
    non-ASCII character count (expected for non-Latin scripts — judge it
    per language, which is why the demo aggregates by lang). One
    zero-shuffle codegen pass; counts via the
    ``length(x) - length(regexp_replace(x, cls, ''))`` identity, exact
    for single-CHARACTER classes (DuckDB needs the 'g' flag — its
    regexp_replace is first-match by default, Spark's is global)."""
    t = F.col(text_col)

    def n_of(cls: str):
        return (
            F.length(t) - F.length(F.regexp_replace(t, cls, ""))
        ).cast("long")

    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        n_of("�").alias("n_replacement"),
        n_of("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]").alias("n_control"),
        n_of("[^\\x00-\\x7f]").alias("n_non_ascii"),
    )


def html_extract(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML → main-text extraction with quality signals — the FIRST
    stage of every crawl-derived pretraining corpus (the trafilatura /
    resiliparse role, re-expressed as ONE whole-stage-codegen
    projection; no parser library, no UDF):

    1. drop ``<head>…</head>`` (title/meta never belong in body text),
       then ``<script>``/``<style>`` payloads and ``<!-- comments -->``;
    2. block-level tags (p/div/li/tr/h1–h6/br) become newlines so
       paragraph structure survives; every remaining tag becomes a
       space;
    3. the five ubiquitous entities decode (&lt; &gt; &quot; &#39;
       &nbsp;, and &amp; LAST so ``&amp;lt;`` cannot double-decode);
    4. whitespace collapses (runs of spaces/tabs/CRs → one space, space
       around newlines trimmed, newline runs → one, ends trimmed).

    Signals for the downstream quality gate: ``n_tags`` (markup mass of
    the raw payload), ``n_links`` + ``link_density`` (anchor-text chars
    / extracted chars — the classic boilerplate discriminant: nav/footer
    pages score high), ``extract_len``.

    Engine-exact discipline: the whole chain is RE2-compatible (no
    backreferences — script and style are two separate replaces — and
    only inline ``(?is)`` flags), so the DuckDB oracle runs the same
    regexes; ``link_density`` is an unrounded int/int division (exact
    IEEE both sides). Returns (id, text, extract_len, n_tags, n_links,
    link_density).

    Scale shape: zero shuffle — a linear projection over the scan;
    regex work is proportional to payload bytes, all inside codegen.

    Reference comparables: none in bertrandchenal/lakota; extends the
    LLM-pipeline surface (SURVEY.md §2.12 ladder).
    """
    h = F.col(html_col)
    no_head = F.regexp_replace(h, r"(?is)<head[^>]*>.*?</head>", " ")
    no_script = F.regexp_replace(
        no_head, r"(?is)<script[^>]*>.*?</script>", " "
    )
    no_style = F.regexp_replace(
        no_script, r"(?is)<style[^>]*>.*?</style>", " "
    )
    no_comment = F.regexp_replace(no_style, r"(?s)<!--.*?-->", " ")
    # the cleaned payload is materialized ONCE as a column (the anchor
    # extraction below reads it by name) — the head/script/style/comment
    # regex passes are the heavy part and must not run twice per row
    df = df.withColumn("_lakota_clean", no_comment)
    anchors = F.expr(
        "regexp_extract_all(_lakota_clean, '(?is)<a[^>]*>(.*?)</a>', 1)"
    )
    blocks = F.regexp_replace(
        F.col("_lakota_clean"),
        r"(?is)</?(p|div|li|tr|h1|h2|h3|h4|h5|h6)[^>]*>|<br[^>]*>",
        "\n",
    )
    stripped = F.regexp_replace(blocks, r"(?s)<[^>]*>", " ")
    decoded = stripped
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # LAST: &amp;lt; must decode to literal &lt;
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    collapsed = F.regexp_replace(decoded, r"[ \t\r]+", " ")
    collapsed = F.regexp_replace(collapsed, r" ?\n ?", "\n")
    collapsed = F.regexp_replace(collapsed, r"\n+", "\n")
    # trim() strips spaces only — newlines at the ends need btrim
    text = F.btrim(collapsed, F.lit(" \n"))
    anchor_chars = F.expr(
        "aggregate(transform({a}, x -> length(trim(regexp_replace("
        "regexp_replace(x, '(?s)<[^>]*>', ' '), '[ \\t\\r\\n]+', ' ')))),"
        " 0L, (acc, v) -> acc + v)".format(a="_lakota_anchors")
    )
    base = df.select(
        F.col(id_col),
        text.alias("text"),
        F.size(
            F.expr(f"regexp_extract_all({html_col}, '(?s)<[^>]*>', 0)")
        ).cast("long").alias("n_tags"),
        anchors.alias("_lakota_anchors"),
    )
    return base.select(
        id_col,
        "text",
        F.length("text").cast("long").alias("extract_len"),
        "n_tags",
        F.size("_lakota_anchors").cast("long").alias("n_links"),
        (
            anchor_chars
            / F.greatest(F.length("text").cast("long"), F.lit(1))
        ).alias("link_density"),
    )


#: multi-label public suffixes the LEGACY approximate registrable-domain
#: rule recognizes (kept as the ``psl=False`` pure-codegen path; the
#: default is now the full Public Suffix List — `registrable_domain`)
_TLD2_RE = r"(?:co|com|org|gov|ac|net)\.(?:uk|au|jp|nz|za|in|br)"

_PSL_CACHE: dict[tuple, list] = {}
_PSL_DF_CACHE: dict[tuple, dict] = {}


def _psl_rules(sections: tuple[str, ...] = ("icann",)) -> list[tuple]:
    """Parse the bundled Public Suffix List (public data, MPL 2.0,
    https://publicsuffix.org — shipped verbatim at
    ``lakota_spark/data/public_suffix_list.dat``; VERDICT r9 #6) into
    merged per-suffix flag rows ``(suffix, n_labels, is_exact,
    is_wild_base, is_exception)``. Wildcard rules (``*.ck``) store the
    BASE (``ck``) with the wild flag; exception rules (``!www.ck``)
    store the name with the exception flag. Unicode entries are doubled
    with their IDNA/punycode form so both host spellings match."""
    key = tuple(sorted(sections))
    if key in _PSL_CACHE:
        return _PSL_CACHE[key]
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "public_suffix_list.dat",
    )
    flags: dict[str, list] = {}
    section = None
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip()
            if s == "// ===BEGIN ICANN DOMAINS===":
                section = "icann"
                continue
            if s == "// ===BEGIN PRIVATE DOMAINS===":
                section = "private"
                continue
            if not s or s.startswith("//") or section not in sections:
                continue
            exc = s.startswith("!")
            wild = s.startswith("*.")
            name = s.lstrip("!")
            if wild:
                name = name[2:]
            name = name.lower()
            forms = {name}
            if not name.isascii():
                try:
                    forms.add(
                        ".".join(
                            lbl.encode("idna").decode("ascii")
                            for lbl in name.split(".")
                        )
                    )
                except UnicodeError:
                    pass
            for form in forms:
                row = flags.setdefault(form, [False, False, False])
                if exc:
                    row[2] = True
                elif wild:
                    row[1] = True
                else:
                    row[0] = True
    rules = [
        (sfx, sfx.count(".") + 1, ex, wd, xc)
        for sfx, (ex, wd, xc) in flags.items()
    ]
    _PSL_CACHE[key] = rules
    return rules


def registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "domain",
    sections: tuple[str, ...] = ("icann",),
) -> DataFrame:
    """EXACT Public-Suffix-List registrable domain (eTLD+1) for a host
    column — the rule a real crawl needs where the `_TLD2_RE` regex
    mis-folds rare country registries (``foo.co.kr`` → ``co.kr`` under
    the regex; ``foo.co.kr`` correctly here).

    100 TB shape: the PSL is ~10k rows — per label-count slices of it
    BROADCAST-join against the host's last-k-labels columns (one
    map-side hash probe per k, NO shuffle of the corpus), and the
    prevailing rule resolves in codegen: exceptions beat everything
    (``!www.ck``), else the longest match (wildcard base at k ⇒ rule
    length k+1), else the implicit ``*`` rule (p=1). The registrable
    domain is the public suffix plus one label; a host that IS a public
    suffix passes through unchanged (documented; keeps every row
    countable in mixture reports). Matching is case-insensitive;
    ``sections=("icann", "private")`` adds the private section (e.g.
    one registrable domain per ``*.github.io`` user) when per-site caps
    should treat hosted subdomains as independent sites."""
    spark = df.sparkSession
    rules = _psl_rules(sections)
    host = F.lower(F.col(host_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    by_k: dict[int, list[tuple]] = {}
    for row in rules:
        by_k.setdefault(row[1], []).append(row)
    ks = sorted(by_k)
    # the per-k rule DataFrames are MEMOIZED per session: rebuilding
    # ~10k driver rows on every call costs more than the joins do
    # (bench: domain_mixture_report 0.5 s -> 2.2 s without the memo)
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — Connect: no SparkContext; the
        # session object's identity scopes the per-process memo just as
        # well (the cache only needs to die with the session)
        app_id = f"session-{id(spark)}"
    memo_key = (app_id, tuple(sorted(sections)))
    slices = _PSL_DF_CACHE.get(memo_key)
    if slices is None:
        slices = {
            k: spark.createDataFrame(
                [(s, ex, wd, xc) for s, _, ex, wd, xc in by_k[k]],
                f"_psl_sfx{k} string, _psl_ex{k} boolean, "
                f"_psl_wd{k} boolean, _psl_xc{k} boolean",
            ).localCheckpoint(eager=True)
            for k in ks
        }
        _PSL_DF_CACHE.clear()  # one session's worth is plenty
        _PSL_DF_CACHE[memo_key] = slices
    out = df
    for k in ks:
        r = slices[k]
        out = out.join(
            F.broadcast(r),
            F.when(n >= k, F.substring_index(host, ".", -k))
            == F.col(f"_psl_sfx{k}"),
            "left",
        ).drop(f"_psl_sfx{k}")
    # prevailing rule: exception (p = len-1) > longest match > '*' (p=1)
    p = None
    for k in sorted(ks, reverse=True):
        cond = F.col(f"_psl_xc{k}").isNotNull() & F.col(f"_psl_xc{k}")
        p = F.when(cond, F.lit(k - 1)) if p is None else p.when(
            cond, F.lit(k - 1)
        )
    # candidate normal-rule lengths, longest first: exact at k ⇒ p=k,
    # wildcard base at k (host strictly longer) ⇒ p=k+1
    cands: list[tuple[int, object]] = []
    for k in ks:
        cands.append((k, F.col(f"_psl_ex{k}").isNotNull()
                      & F.col(f"_psl_ex{k}")))
        cands.append((k + 1, F.col(f"_psl_wd{k}").isNotNull()
                      & F.col(f"_psl_wd{k}") & (n > k)))
    for plen, cond in sorted(cands, key=lambda t: -t[0]):
        p = p.when(cond, F.lit(plen))
    p = p.otherwise(F.lit(1))
    domain = F.when(
        n > p, F.concat_ws(".", F.slice(labels, n - p, p + 1))
    ).otherwise(host)
    drop = [c for k in ks for c in
            (f"_psl_ex{k}", f"_psl_wd{k}", f"_psl_xc{k}")]
    return out.withColumn(out_col, domain).drop(*drop)


def url_stats(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    psl: bool = True,
) -> DataFrame:
    """URL structure parse for corpus curation — the fields domain-level
    mixing, per-site caps and URL-based filters key on: scheme, host
    (userinfo/port stripped), REGISTRABLE domain, path depth and
    query-param count. Scheme/host/path/params are pure RE2 codegen
    (zero shuffle); the registrable domain defaults to the EXACT
    bundled Public Suffix List via `registrable_domain` (broadcast flag
    joins, still zero corpus shuffle — VERDICT r9 #6), lowercased for
    stable grouping. ``psl=False`` keeps the legacy pure-codegen
    approximation (last two labels, three for the `_TLD2_RE`
    registries) for contexts that must stay join-free.

    Reference comparables: none in bertrandchenal/lakota; extends the
    LLM-pipeline surface (SURVEY.md §2.12 ladder)."""
    u = F.col(url_col)
    scheme = F.regexp_extract(u, r"^([a-z][a-z0-9+.\-]*):", 1)
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.\-]*://([^/?#]*)", 1)
    host = F.regexp_replace(host, r"^[^@]*@", "")
    host = F.regexp_replace(host, r":[0-9]+$", "")
    path = F.regexp_extract(
        u, r"^[a-z][a-z0-9+.\-]*://[^/?#]*(/[^?#]*)", 1
    )
    depth = F.size(F.filter(F.split(path, "/"), lambda x: x != ""))
    params = F.size(
        F.filter(
            F.split(F.regexp_extract(u, r"\?([^#]*)", 1), "&"),
            lambda x: x != "",
        )
    )
    base = df.select(
        F.col(id_col),
        scheme.alias("scheme"),
        host.alias("host"),
        depth.cast("long").alias("path_depth"),
        params.cast("long").alias("n_params"),
    )
    if psl:
        parsed = registrable_domain(base, "host", "domain")
    else:
        h = F.col("host")
        parsed = base.withColumn(
            "domain",
            F.when(
                F.regexp_extract(h, rf"([^.]+\.{_TLD2_RE})$", 1) != "",
                F.regexp_extract(h, rf"([^.]+\.{_TLD2_RE})$", 1),
            ).when(
                F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1) != "",
                F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1),
            ).otherwise(h),
        )
    return parsed.select(
        id_col, "scheme", "host", "domain", "path_depth", "n_params"
    )
