"""Text-analysis operators for large-scale training-data pipelines
(beyond-reference surface, BASELINE.json north star).

All pure Column expressions (JVM-side, codegen'd, zero UDFs) so they run at
full scan speed over a 100 TB documents table: language-ID by stopword-hit
counting, quality scoring from length/punctuation/stopword ratios, token
counting, and md5 document fingerprinting for exact dedup.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..panel import local_table, materialize

# tiny per-language stopword lists for the n-gram/stopword heuristic;
# deterministic and cheap — not a real language model by design
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein", "ich", "mit", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "dans"],
}


def token_count(df: DataFrame, col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count. `regexp_count` of non-space runs — empty and
    all-space strings yield 0."""
    return df.withColumn(out, F.regexp_count(F.col(col), F.lit(r"\S+")))


# GPT-2-style pretokenizer pattern (public regex family): contractions,
# letter runs, digit runs, punctuation runs, trailing whitespace
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+$|\s+"


def token_count_bpe(df: DataFrame, col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """Subword-ish token count with a BPE-style pretokenizer regex — the
    cheap stand-in for an exact tokenizer when budgeting LLM training data.
    Pure regexp_count, runs at scan speed."""
    return df.withColumn(out, F.regexp_count(F.col(col), F.lit(BPE_PATTERN)))


def _stopword_hits(col: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_id(df: DataFrame, col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-hit language ID over LANG_STOPWORDS; deterministic argmax
    with ties broken by language-list order; no hits at all -> 'und'."""
    hits = [_stopword_hits(F.col(col), ws).alias(f"__h_{lang}") for lang, ws in LANG_STOPWORDS.items()]
    tmp = df.select("*", *hits)
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"__h_{lang}") for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):  # earlier languages win ties
        expr = F.when((F.col(f"__h_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return tmp.withColumn(out, expr).drop(*[f"__h_{lang}" for lang in langs])


def text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document stats: chars, tokens, punctuation count, digit count,
    stopword(en) hits — the raw material for quality scoring."""
    c = F.col(col)
    return df.withColumns(
        {
            "n_chars_calc": F.length(c),
            "n_tokens": F.regexp_count(c, F.lit(r"\S+")),
            "n_punct": F.regexp_count(c, F.lit(r"[^\w\s]")),
            "n_digits": F.regexp_count(c, F.lit(r"[0-9]")),
            "n_stopwords": _stopword_hits(c, LANG_STOPWORDS["en"]),
        }
    )


def quality_score(df: DataFrame, col: str = "text", out: str = "quality") -> DataFrame:
    """Deterministic [0,1] quality heuristic (documented formula, mirrors
    common pretraining-data filters):

      0.4 * min(tokens/50, 1)              -- enough content
    + 0.4 * min(5 * stopword_ratio, 1)     -- natural-language-ness
    + 0.2 * (1 - min(10 * punct_ratio, 1)) -- not symbol soup

    ratios are per token / per char; empty docs score 0.
    """
    c = F.col(col)
    n_tok = F.regexp_count(c, F.lit(r"\S+")).cast("double")
    n_char = F.length(c).cast("double")
    n_stop = _stopword_hits(c, LANG_STOPWORDS["en"]).cast("double")
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double")
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_char > 0, n_punct / n_char).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(n_tok / 50.0, F.lit(1.0))
        + F.lit(0.4) * F.least(5.0 * stop_ratio, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(10.0 * punct_ratio, F.lit(1.0)))
    )
    return df.withColumn(out, F.when(n_tok > 0, score).otherwise(F.lit(0.0)))


def fingerprint(df: DataFrame, col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Normalized md5 fingerprint: lower-case, whitespace collapsed,
    trimmed. Identical normalization is expressible in any engine, so the
    fingerprint doubles as a cross-system exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")
    return df.withColumn(out, F.md5(norm))


def normalize_text(
    df: DataFrame,
    col: str = "text",
    out: str = "text_norm",
    lowercase: bool = False,
    mask_urls: bool = False,
    mask_emails: bool = False,
) -> DataFrame:
    """Deterministic text normalization for training-data pipelines:
    strip ASCII control characters, collapse whitespace runs to one space,
    trim; optionally lowercase and mask URLs/emails with fixed sentinels.

    Pure regexp_replace column expressions (JVM-side, whole-stage codegen;
    the regex classes are chosen to behave identically in Java regex and
    DuckDB's RE2 so the op is oracle-checkable). Masking before whitespace
    collapse so masked runs cannot re-join neighboring tokens."""
    c = F.col(col)
    if mask_emails:
        c = F.regexp_replace(c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>")
    if mask_urls:
        c = F.regexp_replace(c, r"https?://[^\s]+", "<URL>")
    c = F.regexp_replace(c, r"[\x00-\x1F\x7F]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out, c)


# (name, Java/RE2-portable pattern, replacement sentinel) applied in order:
# URLs first (an email-shaped substring inside a URL must not split it),
# then emails, dotted quads, SSN-shaped ids, and last international-format
# phones (required leading '+' keeps the pattern unambiguous — a bare
# digit-run phone matcher would eat ids/quantities and is locale-dependent).
# No backrefs/lookaround anywhere so Java regex and RE2 agree exactly.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("id", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phone", r"\+[0-9][0-9 ()\-]{6,}[0-9]", "<PHONE>"),
]


def mask_pii(
    df: DataFrame,
    col: str = "text",
    out: str = "text_masked",
    kinds: list[str] | None = None,
) -> DataFrame:
    """PII masking for training corpora: replace URLs, emails, IPv4
    addresses, SSN-shaped ids, and +international phone numbers with fixed
    sentinels (PII_PATTERNS, in that order).

    Pure chained regexp_replace — JVM-side, whole-stage codegen, scan
    speed; every pattern is RE2-portable so the op is oracle-checkable
    and reproducible across engines. ``kinds`` selects a subset (subset
    of {'url','email','ip','id','phone'}), default all.
    """
    selected = PII_PATTERNS if kinds is None else [p for p in PII_PATTERNS if p[0] in kinds]
    if kinds is not None:
        unknown = set(kinds) - {p[0] for p in PII_PATTERNS}
        if unknown:
            raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    c = F.col(col)
    for _, pat, repl in selected:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out, c)


def c4_filter(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = r"\n",
    join_sep: str = "\n",
    min_words_per_line: int = 3,
    min_sentences: int = 3,
    out: str = "text_clean",
) -> DataFrame:
    """C4-style cleaning filter (Raffel et al. 2020, §2.2 public rules):
    line-level retention + document-level rejection, the standard
    complement to the Gopher row rules.

    Line rules (a line survives iff ALL hold):
      - ends in terminal punctuation (. ! ? or a closing quote),
      - has at least ``min_words_per_line`` whitespace words,
      - does not contain the word 'javascript' (case-insensitive).
    Document rules (``keep``):
      - the CLEANED text has >= ``min_sentences`` sentence terminators,
      - the raw text contains no curly brace (code page proxy),
      - the raw text does not contain 'lorem ipsum' (case-insensitive).

    Scale shape: the line filter is an array HOF (`split` + `filter` +
    `array_join`) — pure scan expressions, no explode, no shuffle, no UDF;
    a 100 TB corpus pays one pass. ``line_sep`` is a Java/RE2-portable
    split regex; ``join_sep`` is the literal separator for the cleaned
    text. Output adds: ``out`` (cleaned text), n_lines_total,
    n_lines_kept, n_sentences, keep."""
    lines = F.split(F.col(col), line_sep)
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= int(min_words_per_line))
        & ~F.lower(l).contains("javascript"),
    )
    cleaned = F.array_join(kept, join_sep)
    n_sent = F.regexp_count(cleaned, F.lit(r"[.!?]")).cast("long")
    return df.withColumns(
        {
            out: cleaned,
            "n_lines_total": F.size(lines).cast("long"),
            "n_lines_kept": F.size(kept).cast("long"),
            "n_sentences": n_sent,
            "keep": (n_sent >= int(min_sentences))
            & ~F.col(col).contains("{")
            & ~F.lower(F.col(col)).contains("lorem ipsum"),
        }
    )


def gopher_filter(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float | None = None,
    max_top_word_frac: float | None = None,
    line_sep: str = r"\n",
) -> DataFrame:
    """Composite Gopher-style quality filter (Rae et al. 2021, table A1
    family): one boolean rule per signal plus the conjunction ``keep``.

    Row-level rules are pure column expressions (scan speed, no shuffle):

      ok_tokens     min_tokens <= whitespace tokens <= max_tokens
      ok_word_len   mean [a-z0-9]+ word length in [min_word_len, max_word_len]
                    (word-char total via one regexp strip — exact int/int)
      ok_symbol     ('#' + '...') occurrences / tokens <= max_symbol_ratio
      ok_alpha      fraction of tokens containing a letter >= min_alpha_word_frac
      ok_stopwords  >= min_stopword_hits hits on the en stopword list

    When ``max_dup_line_frac`` / ``max_top_word_frac`` are set, the
    repetition rules join in `repetition_stats` (explode + two hash
    aggregates — the only shuffling part, linear in corpus size with
    map-side combine). All ratios are single int/int divisions rounded to
    6dp with -0.0 canonicalized (no double-sum order dependence anywhere).
    """
    c = F.col(col)
    n_tok = F.regexp_count(c, F.lit(r"\S+")).cast("long")
    word_chars = F.length(F.regexp_replace(F.lower(c), r"[^a-z0-9]", "")).cast("long")
    n_words = F.size(F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9]+"), 0)).cast("long")
    n_sym = (F.regexp_count(c, F.lit(r"#")) + F.regexp_count(c, F.lit(r"\.\.\."))).cast("long")
    n_alpha_tok = F.regexp_count(c, F.lit(r"\S*[A-Za-z]\S*")).cast("long")
    n_stop = _stopword_hits(c, LANG_STOPWORDS["en"]).cast("long")

    def _ratio(num: Column, den: Column) -> Column:
        return F.round(
            F.coalesce(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), F.lit(0.0)),
            6,
        ) + F.lit(0.0)

    mean_wl = _ratio(word_chars, n_words)
    sym_ratio = _ratio(n_sym, n_tok)
    alpha_frac = _ratio(n_alpha_tok, n_tok)
    out = df.withColumns(
        {
            "n_tokens": n_tok,
            "mean_word_len": mean_wl,
            "symbol_ratio": sym_ratio,
            "alpha_word_frac": alpha_frac,
            "stopword_hits": n_stop,
            "ok_tokens": (n_tok >= min_tokens) & (n_tok <= max_tokens),
            "ok_word_len": (mean_wl >= min_word_len) & (mean_wl <= max_word_len),
            "ok_symbol": sym_ratio <= max_symbol_ratio,
            "ok_alpha": alpha_frac >= min_alpha_word_frac,
            "ok_stopwords": n_stop >= min_stopword_hits,
        }
    )
    keep = (
        F.col("ok_tokens") & F.col("ok_word_len") & F.col("ok_symbol")
        & F.col("ok_alpha") & F.col("ok_stopwords")
    )
    if max_dup_line_frac is not None or max_top_word_frac is not None:
        rep = repetition_stats(
            df.select(id_col, col), col=col, id_col=id_col, line_sep=line_sep
        ).select(id_col, "dup_line_frac", "top_word_frac")
        out = out.join(rep, id_col, "left")
        if max_dup_line_frac is not None:
            out = out.withColumn(
                "ok_dup_lines", F.coalesce(F.col("dup_line_frac") <= max_dup_line_frac, F.lit(True))
            )
            keep = keep & F.col("ok_dup_lines")
        if max_top_word_frac is not None:
            out = out.withColumn(
                "ok_top_word", F.coalesce(F.col("top_word_frac") <= max_top_word_frac, F.lit(True))
            )
            keep = keep & F.col("ok_top_word")
    return out.withColumn("keep", keep)


def repetition_stats(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = r"\n",
) -> DataFrame:
    """Gopher-style repetition signals per document — the standard
    pretraining-data quality rules for catching boilerplate and
    machine-generated spam (Rae et al. 2021, table A1 family):

      n_lines          non-empty (trimmed) lines
      dup_line_frac    fraction of lines that are repeats of an earlier
                       line: 1 - distinct/total
      dup_line_char_frac  fraction of line characters living in lines that
                       occur more than once (all occurrences counted)
      top_word_frac    occurrences of the most common word / total words
      dup_word_frac    1 - distinct words / total words

    Scale design: counting repeats per document is explode → two
    hash aggregates keyed by (doc, line) then (doc) — linear in corpus
    size, map-side partial aggregation on both (a per-doc HOF
    formulation of dup_line_char_frac would be O(lines x distinct) per
    doc, quadratic on pathological documents). Words are lowercase
    [a-z0-9]+ runs; lines are \\n-split and trimmed, empties dropped.
    All ratios are exact integer-over-integer divisions rounded to 6dp
    (single division per doc — no double-sum order dependence), with
    +0.0 canonicalization so -0.0 never leaks into the hash gate.
    Docs with no lines / no words score 0.0 everywhere. ``line_sep`` is a
    regex (Java/RE2-portable) so corpora with non-newline record
    structure can still use the line-level rules.
    """
    lines = F.filter(
        F.transform(F.split(F.col(col), line_sep), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    words = F.regexp_extract_all(F.lower(F.col(col)), F.lit("[a-z0-9]+"), 0)
    base = df.select(F.col(id_col), lines.alias("__lines"), words.alias("__words"))

    line_counts = (
        base.select(id_col, F.explode("__lines").alias("__line"))
        .groupBy(id_col, "__line")
        .agg(F.count("*").alias("__cnt"))
    )
    line_stats = line_counts.groupBy(id_col).agg(
        F.sum("__cnt").alias("__n_lines"),
        F.count("*").alias("__n_distinct_lines"),
        F.sum(
            F.when(F.col("__cnt") > 1, F.col("__cnt") * F.length("__line")).otherwise(F.lit(0))
        ).alias("__dup_chars"),
        F.sum(F.col("__cnt") * F.length("__line")).alias("__tot_chars"),
    )
    word_counts = (
        base.select(id_col, F.explode("__words").alias("__word"))
        .groupBy(id_col, "__word")
        .agg(F.count("*").alias("__cnt"))
    )
    word_stats = word_counts.groupBy(id_col).agg(
        F.sum("__cnt").alias("__n_words"),
        F.count("*").alias("__n_distinct_words"),
        F.max("__cnt").alias("__top_word_n"),
    )

    def _frac(num, den):
        # exact long/long division in double, 6dp, -0.0 -> +0.0
        return F.round(
            F.coalesce(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), F.lit(0.0)),
            6,
        ) + F.lit(0.0)

    return (
        df.join(line_stats, id_col, "left")
        .join(word_stats, id_col, "left")
        .withColumns(
            {
                "n_lines": F.coalesce(F.col("__n_lines"), F.lit(0)).cast("long"),
                "dup_line_frac": _frac(
                    F.col("__n_lines") - F.col("__n_distinct_lines"), F.col("__n_lines")
                ),
                "dup_line_char_frac": _frac(F.col("__dup_chars"), F.col("__tot_chars")),
                "top_word_frac": _frac(F.col("__top_word_n"), F.col("__n_words")),
                "dup_word_frac": _frac(
                    F.col("__n_words") - F.col("__n_distinct_words"), F.col("__n_words")
                ),
            }
        )
        .drop(
            "__n_lines", "__n_distinct_lines", "__dup_chars", "__tot_chars",
            "__n_words", "__n_distinct_words", "__top_word_n",
        )
    )


def ngram_repetition_stats(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher's n-gram repetition signals (Rae et al. 2021, table A1):
    ``top_{n}gram_char_frac`` for n in ``top_ns`` — characters in
    occurrences of the MOST frequent word n-gram over total n-gram
    characters — and ``dup_{n}gram_char_frac`` for n in ``dup_ns`` —
    characters in n-grams occurring more than once over total. All
    occurrences (incl. overlapping) are counted; characters are the
    space-joined gram string's length; both ratios are exact
    integer/integer divisions on per-(doc, n) sums, so the fractions are
    self-normalized to [0, 1]. The top gram ties deterministically on
    (count desc, chars desc, gram asc).

    Scale shape: per-document integer gram statistics via ONE
    Arrow-batched mapInPandas pass (no shuffle at all until the id join);
    the fractions — the only floats — are computed by Spark expressions
    from those longs, so round/division parity with the oracle is
    untouched. Why Python here: the statistic needs every overlapping
    n-gram for nine n's — built with array HOFs (transform+slice+
    concat_ws) that is ~2.2M interpreted expression evaluations at sf0.1,
    measured ~10 s, and the grams then shuffle into a hash aggregate;
    a per-doc dict count in a worker is embarrassingly parallel,
    transfers only (id, text) in and 3×|ns| longs out, and measured ~10x
    faster end-to-end. Integer outputs make the choice gate-safe: counts
    and char sums are engine-exact whatever computes them. The top
    gram's identity is never needed — only its char count, which is
    tie-invariant (rows tying on (count, chars) share chars), so no
    ordering enters. Docs shorter than n contribute nothing for that n
    and score 0.0."""
    import re

    all_ns = sorted({*map(int, top_ns), *map(int, dup_ns)})
    id_type = dict(df.dtypes)[id_col]
    stat_fields = ", ".join(
        f"__tot_{n} long, __dup_{n} long, __top_{n} long" for n in all_ns
    )
    out_schema = f"{id_col} {id_type}, {stat_fields}"
    out_cols = [id_col] + [
        f"__{k}_{n}" for n in all_ns for k in ("tot", "dup", "top")
    ]
    pat = re.compile(r"[a-z0-9]+")
    ns = list(all_ns)

    def _doc_stats(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, txt in zip(pdf[id_col].values, pdf[col].values):
                ws = pat.findall(txt.lower()) if isinstance(txt, str) else []
                nw = len(ws)
                row = [did]
                for n in ns:
                    if nw < n:
                        row += [0, 0, 0]
                        continue
                    cnt: dict = {}
                    get = cnt.get
                    for i in range(nw - n + 1):
                        g = tuple(ws[i : i + n])
                        cnt[g] = get(g, 0) + 1
                    tot = dup = 0
                    best = (0, 0)
                    for g, c in cnt.items():
                        chars = c * (sum(map(len, g)) + n - 1)
                        tot += chars
                        if c > 1:
                            dup += chars
                        if (c, chars) > best:
                            best = (c, chars)
                    row += [tot, dup, best[1]]
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    stats = df.select(id_col, col).mapInPandas(_doc_stats, schema=out_schema)

    def _frac(num, den):
        return F.round(
            F.coalesce(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), F.lit(0.0)),
            6,
        ) + F.lit(0.0)

    proj = [F.col(id_col)]
    for n in top_ns:
        proj.append(
            _frac(F.col(f"__top_{n}"), F.col(f"__tot_{n}")).alias(
                f"top_{n}gram_char_frac"
            )
        )
    for n in dup_ns:
        proj.append(
            _frac(F.col(f"__dup_{n}"), F.col(f"__tot_{n}")).alias(
                f"dup_{n}gram_char_frac"
            )
        )
    wide = stats.select(*proj)
    out = df.join(wide, id_col, "left")
    frac_cols = [f"top_{n}gram_char_frac" for n in top_ns] + [
        f"dup_{n}gram_char_frac" for n in dup_ns
    ]
    return out.na.fill(0.0, subset=frac_cols)


def vocab_top_terms(
    df: DataFrame,
    n: int = 1000,
    col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: the ``n`` most frequent terms (lowercase
    [a-z0-9]+ runs) with counts and rank — the counting pass tokenizer
    training starts from (BPE seed vocab, frequency cutoffs, stopword
    discovery).

    Plan: explode terms → ONE hash aggregate (map-side partial combine
    collapses each task to its distinct terms, so shuffle volume is
    |vocab| per task, not |tokens|) → distributed sort-limit (TakeOrdered:
    each partition keeps its own top-n, the driver merges — the web-scale
    vocab of typos/hashes/URLs never lands in one task). The ordering
    (count desc, term) is TOTAL because terms are unique, so the limit is
    deterministic including ties at the cut; row_number then ranks only
    the n retained rows. Counts are LONG-exact; no floats anywhere.
    """
    terms = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit("[a-z0-9]+"), 0)
        ).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count("*").alias("term_count"))
    top = counts.orderBy(F.col("term_count").desc(), F.col("term")).limit(int(n))
    w = Window.orderBy(F.col("term_count").desc(), F.col("term"))
    return top.withColumn("rank", F.row_number().over(w))


def corpus_mix(
    df: DataFrame,
    strata_cols: list[str] | tuple[str, ...] = ("source", "lang"),
    col: str = "text",
) -> DataFrame:
    """Per-stratum corpus accounting — the report that drives data-mixing
    decisions (which sources/languages to up/down-weight, what fractions to
    hand `sampling.stratified_sample`).

    Output per stratum: n_docs, n_tokens (whitespace), n_chars, and
    token_share = n_tokens / total tokens. Counts are LONG sums (exact,
    order-independent — no double-sum flakiness); the share is one
    long/long division rounded to 6dp with -0.0 canonicalized. The global
    total comes from an unpartitioned window over the *aggregated* frame
    (|strata| rows — a one-row exchange, not a global sort of the corpus).
    """
    toks = F.regexp_count(F.col(col), F.lit(r"\S+")).cast("long")
    agg = df.groupBy(*strata_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.sum(F.length(col).cast("long")).alias("n_chars"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.round(
        F.col("n_tokens").cast("double") / F.nullif(total.cast("double"), F.lit(0.0)),
        6,
    ) + F.lit(0.0)
    return agg.withColumn("token_share", share)


# shards per supershard for pack_windows' two-level prefix sum: the only
# single-partition window operates on SUPERSHARD totals, |supers| =
# N / (shard_size x SHARDS_PER_SUPER) rows — ~153 rows at 10^12 docs with
# the defaults. Module-level so the scale test can shrink it and force
# multiple supershards on a toy corpus.
SHARDS_PER_SUPER = 65_536


def pack_windows(
    df: DataFrame,
    window: int = 2048,
    id_col: str = "doc_id",
    token_col: str | None = None,
    shard_size: int = 100_000,
) -> DataFrame:
    """GPT-style concat-and-chunk packing plan: documents are concatenated
    in ``id_col`` order and cut into fixed ``window``-token training
    sequences; each document's global token offset and the window span it
    lands in are computed — the assignment step every LLM pretraining
    pipeline runs before writing packed shards.

    Scale design: a global ordered prefix-sum over 10^9+ docs cannot be a
    single Window.orderBy (one-partition sort). Two-LEVEL sharding instead:
    docs are range-sharded by id (``shard = id div shard_size``), each shard
    does a *partitioned* cumulative sum; shard totals are prefix-summed
    WITHIN supershards of ``SHARDS_PER_SUPER`` shards (again a partitioned
    window), and only the supershard totals — N/(shard_size x 65536) rows,
    ~153 at a trillion docs — flow through the one unpartitioned window.
    The shard-base join back to the doc frame is left to AQE (broadcast at
    test scale; at 10^9+ shards a hash join that reuses the window's
    existing __shard partitioning — never a forced ~100 MB+ broadcast).

    Output: (doc_id, n_tokens, start_offset, end_offset, first_window,
    last_window) with end exclusive; empty docs (0 tokens) get
    first_window = last_window = the window containing their offset.
    """
    token_expr = (
        F.col(token_col)
        if token_col
        else F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0))
    ).cast("long")
    super_span = shard_size * SHARDS_PER_SUPER
    base = df.select(
        F.col(id_col), token_expr.alias("n_tokens"),
        (F.col(id_col) - (F.col(id_col) % shard_size)).alias("__shard"),
        (F.col(id_col) - (F.col(id_col) % super_span)).alias("__super"),
    )
    # two plan branches read `base` (the per-shard window AND the
    # shard-totals aggregate); Catalyst does not reuse the duplicated
    # subtree, so without pinning the whole upstream — which may be an
    # entire filter/dedup pipeline, not just a scan — runs twice
    base = materialize(base)
    w_shard = Window.partitionBy("__shard").orderBy(id_col)
    local = base.withColumn(
        "__local_end", F.sum("n_tokens").over(w_shard)
    )
    # level 1: shard totals, prefix-summed WITHIN each supershard
    # (partitioned window — at most SHARDS_PER_SUPER rows per partition)
    shard_totals = base.groupBy("__super", "__shard").agg(
        F.sum("n_tokens").alias("__total")
    )
    shard_totals = materialize(shard_totals)  # feeds level 2 AND the join
    w_in_super = (
        Window.partitionBy("__super")
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # level 2: supershard totals through the ONLY unpartitioned window —
    # |supers| rows, bounded far below any corpus-linear growth
    w_sup = Window.orderBy("__super").rowsBetween(Window.unboundedPreceding, -1)
    super_bases = (
        shard_totals.groupBy("__super")
        .agg(F.sum("__total").alias("__stotal"))
        .withColumn("__sbase", F.coalesce(F.sum("__stotal").over(w_sup), F.lit(0)))
        .select("__super", "__sbase")
    )
    shard_offsets = (
        shard_totals.withColumn(
            "__inbase", F.coalesce(F.sum("__total").over(w_in_super), F.lit(0))
        )
        .join(F.broadcast(super_bases), "__super")
        .select("__shard", (F.col("__sbase") + F.col("__inbase")).alias("__base"))
    )
    out = (
        local.join(shard_offsets, "__shard")
        .select(
            id_col,
            "n_tokens",
            (F.col("__base") + F.col("__local_end") - F.col("n_tokens")).alias("start_offset"),
            (F.col("__base") + F.col("__local_end")).alias("end_offset"),
        )
        # integer DIV, not floor(double /): offsets exceed double's 53-bit
        # mantissa long before 100 TB of tokens
        .withColumn("first_window", F.expr(f"start_offset DIV {int(window)}"))
        .withColumn(
            "last_window",
            F.expr(f"greatest(end_offset - 1, start_offset) DIV {int(window)}"),
        )
    )
    return out


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    out: str = "sum_logprob",
) -> DataFrame:
    """Corpus-trained BIGRAM language-model score per document — one rung
    up the n-gram ladder from `unigram_logprob` toward the CCNet/LLaMA
    KenLM-5-gram quality filters: p(t|prev) = (c(prev,t) + k) /
    (c(prev) + k·V), add-k smoothed, fit on the SAME corpus it scores.
    Word order now matters (shuffled boilerplate that fools the unigram
    profile scores poorly here).

    Output: the input plus (n_bigrams, ``out`` = Σ round(ln p, 6) rounded
    6dp, avg_logprob). Vocabulary V = tokens participating in at least
    one bigram (single-token docs contribute no bigram by construction).

    Same float-parity recipe as unigram_logprob: per-bigram log-prob
    rounded to 6dp BEFORE the fold, per-doc sum as a (prev, tok)-sorted
    sequential list fold; the smoothing arithmetic is a literal
    expression identical on both engines. Same scale shape too: ONE
    corpus scan into a (doc, prev, tok, tf) aggregate (array expressions
    build the bigrams in the scan), LM counts/context/vocab all derive
    from it, the LM join broadcasts under AQE for small vocabularies,
    and the doc-level fold reuses the tf frame's partitioning.
    """
    bg_structs = F.expr(
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(element_at(__toks, i) as prev, "
        "element_at(__toks, i + 1) as tok))"
    )
    tf = materialize(
        df.select(
            F.col(id_col).alias("__uid"),
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
            ).alias("__toks"),
        )
        .filter(F.size("__toks") >= 2)
        .select("__uid", F.explode(bg_structs).alias("__bg"))
        .select(
            "__uid",
            F.col("__bg.prev").alias("__prev"),
            F.col("__bg.tok").alias("__tok"),
        )
        .groupBy("__uid", "__prev", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    counts = materialize(
        tf.groupBy("__prev", "__tok").agg(F.sum("__tf").alias("__c"))
    )
    if counts.isEmpty():  # trivial first-partition probe on the checkpoint
        raise ValueError("bigram_logprob: corpus has no bigrams to fit the LM on")
    # V as a lazy broadcast one-row frame (the pagerank scalar-side-value
    # pattern) instead of a blocking driver count() — the distinct-union
    # aggregate runs inside the final job, overlapped with the LM build,
    # rather than as its own stop-the-world action (r6, VERDICT #2). V is
    # an exact integer in double, so k*V multiplies to the same IEEE
    # double the old constant-folded literal produced — strict gate holds.
    vocab_v = (
        counts.select(F.col("__prev").alias("t"))
        .union(counts.select(F.col("__tok").alias("t")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("__V"))
    )
    ctx = counts.groupBy("__prev").agg(F.sum("__c").alias("__cN"))
    lm = (
        counts.join(ctx, "__prev")
        .crossJoin(F.broadcast(vocab_v))
        .select(
            "__prev",
            "__tok",
            F.expr(
                f"round(ln((__c + {k!r}) / (__cN + {k!r} * __V)), 6)"
            ).alias("__lp"),
        )
    )
    scored = tf.join(lm, ["__prev", "__tok"], "left").select(
        "__uid",
        "__prev",
        "__tok",
        "__tf",
        (F.col("__tf").cast("double") * F.col("__lp")).alias("__contrib"),
    )
    agg = scored.groupBy("__uid").agg(
        F.sum("__tf").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__prev", "__tok", "__contrib"))
                ),
                lambda x: x["__contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum"),
    )
    return (
        df.join(agg, F.col(id_col) == F.col("__uid"), "left")
        .drop("__uid")
        .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0).cast("long")))
        .withColumn(out, F.round(F.col("__sum"), 6) + F.lit(0.0))
        .withColumn(
            "avg_logprob",
            F.round(
                F.col("__sum")
                / F.nullif(F.col("n_bigrams").cast("double"), F.lit(0.0)),
                6,
            )
            + F.lit(0.0),
        )
        .drop("__sum")
    )


def pack_bins(
    df: DataFrame,
    capacity: int = 2048,
    id_col: str = "doc_id",
    token_col: str | None = None,
    shard_size: int = 100_000,
) -> DataFrame:
    """First-fit-decreasing sequence BIN packing: each document is
    assigned whole to a fixed-``capacity`` training bin, never split —
    the no-cross-document-attention-contamination alternative to
    `pack_windows`' concat-and-chunk (the T5/FLAN-style packing recipe;
    whole-doc packing avoids the attention-mask surgery concat packing
    needs). Documents longer than ``capacity`` are truncated to it
    (``truncated`` = 1) and occupy a bin of their own, as the recipes do.

    Deterministic FFD per shard: docs sort by (packed length DESC, id
    ASC) and each takes the FIRST bin with room, else opens a new one —
    a classic 11/9·OPT + 6/9 guarantee within the shard. Distributed
    shape: docs range-shard by id (``shard = id div shard_size``) and
    each shard packs independently in one Arrow pass (bin ids are local
    to the shard — (shard, bin) is the global bin key), so packing is
    embarrassingly parallel and exactly reproducible at any parallelism;
    cross-shard packing could only save < one bin per shard of waste.
    The greedy runs over a max-residual SEGMENT TREE (leftmost bin with
    room found by descending left-first), O(D log D) per shard — the
    naive first-fit scan is O(D·B) ≈ 10^9 steps at the default 100k-doc
    shard (pinned equivalent to the naive loop by a randomized test).

    Output: (doc_id, n_tokens, n_packed, shard, bin, truncated) with
    ``n_packed = min(n_tokens, capacity)`` the tokens the doc occupies.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    token_expr = (
        F.col(token_col)
        if token_col
        else F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0))
    ).cast("long")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        token_expr.alias("n_tokens"),
        (F.col(id_col) - (F.col(id_col) % shard_size)).alias("shard"),
    )
    cap = int(capacity)

    def _pack(pdf):
        import numpy as np
        import pandas as pd  # noqa: F401 (worker-side)

        n_tok = pdf["n_tokens"].to_numpy()
        packed = np.minimum(n_tok, cap)
        # FFD order: packed length desc, doc_id asc (deterministic)
        order = np.lexsort((pdf["doc_id"].to_numpy(), -packed))
        n = len(pdf)
        # max-residual segment tree over bin slots (leaf b = residual of
        # bin b; unopened bins hold residual 0 so they are never chosen —
        # need >= 1). First fit = descend left-first into any subtree
        # whose max residual fits. O(log B) per doc.
        size = 1
        while size < max(n, 1):
            size *= 2
        tree = np.zeros(2 * size, dtype=np.int64)

        def _update(leaf: int, val: int) -> None:
            i = size + leaf
            tree[i] = val
            i //= 2
            while i:
                tree[i] = tree[2 * i] if tree[2 * i] >= tree[2 * i + 1] else tree[2 * i + 1]
                i //= 2

        def _leftmost(need: int) -> int:
            if tree[1] < need:
                return -1
            i = 1
            while i < size:
                i = 2 * i if tree[2 * i] >= need else 2 * i + 1
            return i - size

        n_open = 0
        fills = np.zeros(n, dtype=np.int64)
        bins = np.empty(n, dtype=np.int64)
        for row in order:
            need = int(packed[row])
            placed = _leftmost(need)
            if placed < 0 or placed >= n_open:
                placed = n_open
                n_open += 1
            fills[placed] += need
            _update(placed, cap - int(fills[placed]))
            bins[row] = placed
        out = pdf[["doc_id", "n_tokens", "shard"]].copy()
        out["n_packed"] = packed
        out["bin"] = bins
        out["truncated"] = (n_tok > cap).astype(np.int32)
        return out[["doc_id", "n_tokens", "n_packed", "shard", "bin", "truncated"]]

    return base.groupBy("shard").applyInPandas(
        _pack,
        schema=(
            "doc_id long, n_tokens long, n_packed long, shard long, "
            "bin long, truncated int"
        ),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    out: str = "sum_logprob",
) -> DataFrame:
    """Corpus-trained unigram language-model score per document: the
    log-probability of each document under an add-k-smoothed unigram LM
    fit on the SAME corpus — the cheap, library-free stand-in for the
    perplexity-based quality filters of the CCNet/LLaMA data recipes
    (there: KenLM 5-gram; here: the unigram term, which already separates
    natural text from boilerplate/noise by word-frequency profile).

    p(t) = (c(t) + k) / (N + k·V); score = Σ_tokens round(ln p(t), 6),
    emitted as ``out`` (round 6) plus n_tokens and avg_logprob. The LM
    is fit on the SAME frame it scores, so every token is in-vocabulary
    by construction.

    Float-parity discipline: each token's log-prob is rounded to 6dp
    BEFORE the per-document sum, and the sum is a token-sorted sequential
    list fold over (tf · lp) contributions (collect_list sorted by token
    → aggregate), mirroring DuckDB's ordered list_sum — the
    hash-aggregate double-sum order dependence never enters.

    Scale shape (r4 rewrite — the first version scanned the corpus 3×):
    the corpus is scanned ONCE into a (doc, token, tf) aggregate — the
    single wide shuffle; corpus token counts, the two driver scalars
    (N, V), the LM join (AQE broadcasts small vocabularies) and the
    per-doc fold all derive from that frame (the doc-level groupBy
    reuses its partitioning — no second wide exchange). An id-only
    column-pruned second scan joins the scores back onto the input rows.
    """
    tf = materialize(
        df.select(
            F.col(id_col).alias("__uid"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
                )
            ).alias("__tok"),
        )
        .groupBy("__uid", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    counts = tf.groupBy("__tok").agg(F.sum("__tf").alias("__c"))
    n_v = counts.agg(
        F.sum("__c").alias("N"), F.count(F.lit(1)).alias("V")
    ).collect()[0]
    big_n, vocab_v = int(n_v["N"] or 0), int(n_v["V"] or 0)
    if big_n == 0:
        raise ValueError("unigram_logprob: corpus has no tokens to fit the LM on")
    # identical literal arithmetic on both engines: (c + k) / (N + k*V)
    lp = F.round(F.log((F.col("__c") + F.lit(k)) / F.expr(f"{big_n} + {k!r} * {vocab_v}")), 6)
    lm = counts.select("__tok", lp.alias("__lp"))
    scored = tf.join(lm, "__tok", "left").select(
        "__uid",
        "__tok",
        "__tf",
        (F.col("__tf").cast("double") * F.col("__lp")).alias("__contrib"),
    )
    agg = scored.groupBy("__uid").agg(
        F.sum("__tf").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tok", "__contrib"))),
                lambda x: x["__contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum"),
    )
    return (
        df.join(agg, F.col(id_col) == F.col("__uid"), "left")
        .drop("__uid")
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0).cast("long")))
        .withColumn(out, F.round(F.col("__sum"), 6) + F.lit(0.0))
        .withColumn(
            "avg_logprob",
            F.round(F.col("__sum") / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)), 6)
            + F.lit(0.0),
        )
        .drop("__sum")
    )


def quality_classifier_score(
    df: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "quality_score",
) -> DataFrame:
    """Linear (fasttext-style) quality-classifier INFERENCE: score each
    document with a pre-trained bag-of-words linear model — the learned
    third leg of the text-quality battery next to the rule-based
    gopher/C4 filters and the corpus-LM logprob scores (real LLM
    curation stacks run exactly this trio; cf. Joulin et al. 2016
    "Bag of Tricks for Efficient Text Classification" and the
    CCNet/LLaMA quality pipelines). Training stays out of scope by
    design (no sklearn in the image); ``weights`` is the trained
    model: token -> weight, plus a scalar ``bias``.

    score = round(bias + (Σ_tokens tf·w(token)) / n_tokens, 6) — the
    fasttext mean-of-token-weights with w = 0 for out-of-vocabulary
    tokens; ``keep`` = score >= threshold evaluated on the ROUNDED
    score (a comparison of engine-identical doubles, no boundary
    surface). Documents with no tokens score NULL (keep NULL).

    Float-parity recipe (CLAUDE.md): contributions tf·w fold in a
    token-sorted sequential list fold (the unigram_logprob shape —
    mirrors DuckDB's ordered list_sum), the one division and the
    bias-add happen in a fixed order, and the oracle mirrors the final
    round through the shortest-repr DECIMAL hop (the divide_column
    recipe) because a quotient can land on a ...5 repr boundary.

    Scale shape: ONE corpus scan into the (doc, token, tf) aggregate;
    the weights table is a literal small frame (broadcast join — a
    real vocabulary is ~10^5-10^6 rows, still broadcastable); the
    per-doc fold reuses the tf aggregate's partitioning; an id-only
    column-pruned second scan joins scores back onto the input rows.
    Everything except the fold is whole-stage-codegen'd; the fold is
    an interpreted HOF over ≤ |distinct tokens per doc| elements —
    the measured-cheap regime (CLAUDE.md: Arrow only wins past ~10²
    evals/row).

    Output: the input plus (n_tokens long, n_matched long, ``out``
    double, keep boolean).
    """
    if not weights:
        raise ValueError("quality_classifier_score: weights must be non-empty")
    witems = []
    for tok, wv in sorted(weights.items()):
        if not isinstance(tok, str) or not re.fullmatch(r"[a-z0-9]+", tok):
            raise ValueError(
                "quality_classifier_score: weight keys must be lowercase "
                f"[a-z0-9]+ tokens (the tokenizer's alphabet), got {tok!r}"
            )
        witems.append((tok, float(wv)))
    bias, threshold = float(bias), float(threshold)

    spark = df.sparkSession
    wdf = local_table(spark, witems, "__tok string, __w double")
    tf = (
        df.select(
            F.col(id_col).alias("__uid"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
                )
            ).alias("__tok"),
        )
        .groupBy("__uid", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    scored = tf.join(F.broadcast(wdf), "__tok", "left").select(
        "__uid",
        "__tok",
        "__tf",
        "__w",
        (F.col("__tf").cast("double") * F.coalesce("__w", F.lit(0.0))).alias(
            "__contrib"
        ),
    )
    agg = scored.groupBy("__uid").agg(
        F.sum("__tf").alias("n_tokens"),
        F.sum(
            F.when(F.col("__w").isNotNull(), F.col("__tf")).otherwise(F.lit(0))
        ).alias("n_matched"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tok", "__contrib"))),
                lambda x: x["__contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum"),
    )
    score = F.round(
        F.lit(bias)
        + F.col("__sum") / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
        6,
    ) + F.lit(0.0)
    return (
        df.join(agg, F.col(id_col) == F.col("__uid"), "left")
        .drop("__uid")
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0).cast("long")))
        .withColumn("n_matched", F.coalesce("n_matched", F.lit(0).cast("long")))
        .withColumn(out, score)
        .withColumn("keep", F.col(out) >= F.lit(threshold))
        .drop("__sum")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training


BPE_EOW = "</w>"  # end-of-word marker symbol (Sennrich et al. 2016)


def bpe_learn(
    word_counts: dict[str, int],
    num_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Pure-python BPE merge learning over a word-frequency table
    (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    with Subword Units") — deterministic, all-integer, shared verbatim
    by the Spark operator and the DuckDB oracle (the DSIR
    dsir_bucket_weights pattern: both engines consume the same pure
    function of the same exact counts, so the gate has no float surface).

    Each word is a symbol sequence (chars + BPE_EOW); each step merges
    the most frequent adjacent pair, ties broken by the lexicographically
    SMALLEST (left, right) — a total, engine-free order. Pair counts are
    maintained incrementally (only words containing the merged pair are
    touched), so learning is O(num_merges * touched), not
    O(num_merges * vocabulary).

    Returns [(rank, left, right, pair_count)], stopping early when the
    best pair's count falls below min_pair_count.
    """
    seqs: dict[str, list[str]] = {
        w: list(w) + [BPE_EOW] for w, c in word_counts.items() if w and c > 0
    }
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[str]] = {}
    for w, syms in seqs.items():
        c = word_counts[w]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(w)

    def _bump(p: tuple[str, str], w: str, delta: int) -> None:
        n = pair_counts.get(p, 0) + delta
        if n > 0:
            pair_counts[p] = n
        else:
            pair_counts.pop(p, None)
        if delta > 0:
            pair_words.setdefault(p, set()).add(w)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        if not pair_counts:
            break
        best_count = max(pair_counts.values())
        if best_count < min_pair_count:
            break
        best = min(p for p, c in pair_counts.items() if c == best_count)
        merges.append((rank, best[0], best[1], best_count))
        merged_sym = best[0] + best[1]
        for w in sorted(pair_words.pop(best, ())):
            c, old = word_counts[w], seqs[w]
            new: list[str] = []
            i = 0
            while i < len(old):
                if i + 1 < len(old) and (old[i], old[i + 1]) == best:
                    new.append(merged_sym)
                    i += 2
                else:
                    new.append(old[i])
                    i += 1
            if len(new) == len(old):
                continue  # stale index entry (pair already merged away)
            for p in zip(old, old[1:]):
                _bump(p, w, -c)
            for p in zip(new, new[1:]):
                _bump(p, w, c)
            seqs[w] = new
        pair_counts.pop(best, None)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    min_count: int = 2,
    min_pair_count: int = 2,
    max_word_types: int = 100_000,
) -> DataFrame:
    """Train a BPE subword vocabulary on a corpus — the standard
    100 TB-scale tokenizer-training shape: ONE distributed counting pass
    collapses the corpus to its word-frequency table (map-side partial
    combine → shuffle is O(|vocab|) per task, not O(tokens)), a
    deterministic frequency cap bounds the driver pull
    (TakeOrdered on (count desc, word) — total order, ties at the cut
    deterministic), and the merge loop runs driver-side on the bounded
    table via :func:`bpe_learn`. This is how production tokenizers are
    actually trained on web-scale corpora: the corpus-sized work is the
    count, the learning is vocabulary-sized.

    Output: (rank int, left string, right string, pair_count long) —
    one row per learned merge, all-integer/string (byte-strict gateable).
    """
    wc = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= int(min_count))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(int(max_word_types))
    )
    counts = {r["w"]: int(r["c"]) for _, r in wc.toPandas().iterrows()}
    merges = bpe_learn(counts, num_merges, min_pair_count=min_pair_count)
    schema = "rank int, left string, right string, pair_count long"
    return local_table(df.sparkSession, merges, schema)


def bpe_segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned BPE merges to one word (greedy lowest-rank-first —
    the standard inference rule): start from chars + BPE_EOW, repeatedly
    merge every occurrence of the present pair with the smallest merge
    rank. Pure python, shared verbatim by the Spark operator and the
    DuckDB oracle's word-level VALUES map."""
    syms = list(word) + [BPE_EOW]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        merged = best_pair[0] + best_pair[1]
        new, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best_pair:
                new.append(merged)
                i += 2
            else:
                new.append(syms[i])
                i += 1
        syms = new
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize every document under a learned BPE vocabulary: per doc,
    n_words ([a-z0-9]+ runs) and n_subwords (total BPE symbols after
    applying ``merges`` — the output of :func:`bpe_train` /
    :func:`bpe_learn`).

    Scale shape — the honest distributed tokenizer-apply: the merge
    table (|vocab| rows, driver-bounded by construction) ships to every
    task inside the mapInPandas closure; no corpus-vocabulary collect,
    no shuffle at all (the pass is scan → narrow map). A per-batch word
    cache collapses the Zipfian token stream to one segmentation per
    DISTINCT word per batch, so the python cost is O(unique words), not
    O(tokens). Output integers only (byte-strict gateable).
    """
    import re

    ranks = {(l, r): rank for rank, l, r, _ in merges}
    token_re = re.compile(r"[a-z0-9]+")
    fields = [f.name for f in df.schema.fields if f.name in (id_col, text_col)]
    base = df.select(*fields)

    def _encode(batches):
        import pandas as pd

        cache: dict[str, int] = {}
        for pdf in batches:
            out_words, out_subs = [], []
            for txt in pdf[text_col]:
                words = token_re.findall((txt or "").lower())
                total = 0
                for w in words:
                    n = cache.get(w)
                    if n is None:
                        n = len(bpe_segment_word(w, ranks))
                        cache[w] = n
                    total += n
                out_words.append(len(words))
                out_subs.append(total)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": pd.array(out_words, dtype="int64"),
                    "n_subwords": pd.array(out_subs, dtype="int64"),
                }
            )

    # Derive the id field's type from the input schema — the operator is
    # exposed generically via the registry, so id_col may be string/int.
    id_type = df.schema[id_col].dataType.simpleString()
    return base.mapInPandas(
        _encode, schema=f"{id_col} {id_type}, n_words long, n_subwords long"
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """PMI collocation mining: the top-k adjacent word bigrams by corpus
    frequency, scored with pointwise mutual information — the classic
    phrase-discovery pass (Mikolov et al. 2013 phrase2vec used the same
    count-ratio statistic to merge "new_york"-style units before
    training).

    Ranking is ALL-INTEGER (count desc, then lexicographic bigram) so the
    top-k cut is a total order with no float surface; PMI rides along as
    a payload column: ln((c_ab/N_b) / ((c_a/N_u)·(c_b/N_u))) rounded to
    6dp — the unigram_logprob single-libm-call recipe, computed from
    identical integers through an identical expression shape on both
    engines.

    Scale shape: two partially-aggregated counting passes over one token
    scan each (bigrams, unigrams), the corpus totals as lazy broadcast
    one-row frames (crossJoin — no driver action, CLAUDE.md pagerank
    lesson), unigram counts broadcast-joined onto the surviving >=
    min_count bigrams, and a distributed TakeOrdered for the k cut —
    nothing driver-side, shuffles O(vocab) and O(bigram types).
    """
    toks = df.select(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0).alias(
            "__toks"
        )
    )
    bigrams = (
        toks.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 1), "
                    "i -> struct(__toks[i - 1] AS w1, __toks[i] AS w2))"
                )
            ).alias("__b")
        )
        .select(F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= int(min_count))
    )
    uni = (
        toks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_u = uni.agg(F.sum("c").alias("n_u"))
    # total bigram occurrences: derived from the token scan (size-1 per doc)
    n_b = toks.agg(
        F.sum(F.greatest(F.size("__toks") - 1, F.lit(0))).cast("long").alias("n_b")
    )
    scored = (
        bigrams.join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_a")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_b")), "w2")
        .crossJoin(F.broadcast(n_u))
        .crossJoin(F.broadcast(n_b))
    )
    # explicit double casts on every operand: DuckDB types a bare 1.0 as
    # DECIMAL and its DECIMAL->DOUBLE cast is lossy (CLAUDE.md) — CAST
    # keeps both engines in pure IEEE double arithmetic, same shape
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi = F.round(
        F.log(
            (d("c_ab") / d("n_b")) / ((d("c_a") / d("n_u")) * (d("c_b") / d("n_u")))
        ),
        6,
    ) + F.lit(0.0)
    return (
        scored.select("w1", "w2", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy(F.col("c_ab").desc(), "w1", "w2")
        .limit(int(k))
    )
