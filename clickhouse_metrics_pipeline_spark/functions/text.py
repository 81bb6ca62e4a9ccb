"""Text-analysis functions for training-data pipelines.

All built-in column expressions (JVM-side, codegen'd) - language ID,
quality scoring, token counting, fingerprinting. Each has an exact
ANSI-SQL equivalent used by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark.functions.expr import row_let
from clickhouse_metrics_pipeline_spark.plan_memo import memo_expr
from clickhouse_metrics_pipeline_spark.operators.dedup import normalize_text, tokens

# r11 optimization note (guide §1.2 step 2): every kernel here that
# mentions the token array more than once — directly or through a
# helper — binds it ONCE per row with ``row_let``. The HOF forms
# (filter/aggregate/transform) are CodegenFallback, so without the
# binding each mention re-ran the whole normalize+split tokenization
# per row (detect_language: 8x, rolling_hash_fingerprint: once per
# window position). Values and types are unchanged.

# Tiny deterministic stopword lists for the language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "dans"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["was", "on", "as", "with", "be", "at", "by"]

# BPE-ish pretokenizer: letter runs, digit runs, single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@memo_expr
def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


@memo_expr
def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-style pretokens (letters / digits / punct marks)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(BPE_TOKEN_RE))


def stopword_ratio_of(w: Column, stopwords: list[str] | None = None) -> Column:
    """Token-array form of :func:`stopword_ratio`."""
    sw = stopwords or STOPWORDS_EN
    hits = F.size(F.filter(w, lambda x: x.isin(*sw)))
    return hits.cast("double") / F.greatest(F.size(w), F.lit(1)).cast("double")


@memo_expr
def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    return row_let(
        {"w": tokens(text)}, lambda s: stopword_ratio_of(s["w"], stopwords)
    )


@memo_expr
def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")).cast("double") / F.greatest(
        F.length(t), F.lit(1)
    ).cast("double")


def mean_token_length_of(w: Column) -> Column:
    """Token-array form of :func:`mean_token_length`."""
    return F.aggregate(
        w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    ).cast("double") / F.greatest(F.size(w), F.lit(1)).cast("double")


@memo_expr
def mean_token_length(text: Column | str) -> Column:
    return row_let({"w": tokens(text)}, lambda s: mean_token_length_of(s["w"]))


def quality_score_of(w: Column, t: Column) -> Column:
    """Token-array form of :func:`quality_score`: ``w`` is a BOUND
    token array (callers that also need other token-derived columns
    bind the tokenization once and share it); ``t`` the raw text for
    the punctuation ratio, which is character-based."""
    n_tok = F.size(w)
    len_ok = (n_tok >= 10) & (n_tok <= 100_000)
    mtl = mean_token_length_of(w)
    mtl_ok = (mtl >= 3.0) & (mtl <= 12.0)
    punct_ok = punct_ratio(t) <= 0.2
    sw_ok = stopword_ratio_of(w) >= 0.01
    return (
        len_ok.cast("double") * 0.3
        + mtl_ok.cast("double") * 0.3
        + punct_ok.cast("double") * 0.2
        + sw_ok.cast("double") * 0.2
    )


@memo_expr
def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + mean token length
    band + low punctuation + some stopwords. Deterministic, documented,
    SQL-portable (weights sum to 1)."""
    t = F.col(text) if isinstance(text, str) else text
    return row_let({"w": tokens(t)}, lambda s: quality_score_of(s["w"], t))


def lang_marker_hits_of(w: Column, lang: str) -> Column:
    """Token-array form of :func:`lang_marker_hits`."""
    return F.size(F.filter(w, lambda x: x.isin(*LANG_MARKERS[lang])))


def lang_marker_hits(text: Column | str, lang: str) -> Column:
    return lang_marker_hits_of(tokens(text), lang)


@memo_expr
def detect_language(text: Column | str) -> Column:
    """Argmax of marker-word hits with deterministic tie-break
    (en > de > es > fr); 'und' (undetermined) when no marker hits.

    Nested ``row_let``: the outer binding tokenizes once, the inner
    binds each language's hit count once (each is referenced twice —
    in the argmax and in the tie-break chain; the unbound form ran
    8 filter passes each re-tokenizing the document)."""
    t = F.col(text) if isinstance(text, str) else text

    def inner(h: Column) -> Column:
        best = F.greatest(*[h[lang] for lang in LANG_MARKERS])
        out = F.lit("und")
        # reversed so earlier languages win ties in the final when-chain
        for lang in reversed(list(LANG_MARKERS)):
            out = F.when(h[lang] == best, F.lit(lang)).otherwise(out)
        return F.when(best > 0, out).otherwise(F.lit("und"))

    return row_let(
        {"w": tokens(t)},
        lambda s: row_let(
            {
                lang: lang_marker_hits_of(s["w"], lang)
                for lang in LANG_MARKERS
            },
            inner,
        ),
    )


@memo_expr
def text_chunks(text: Column | str, chunk: int = 32, stride: int = 24) -> Column:
    """Fixed-size token windows with overlap (chunk - stride tokens),
    space-rejoined - the row-local context-window chunking primitive
    (ARRAY<STRING>, one element per window; a short document yields one
    short chunk). Pure JVM expressions: chunking is a map at any scale."""

    def body(s: Column) -> Column:
        w = s["w"]
        kmax = F.greatest(
            F.lit(0),
            F.floor((F.size(w) - F.lit(chunk - stride + 1)) / F.lit(stride)),
        )
        return F.transform(
            F.sequence(F.lit(0), kmax),
            lambda k: F.array_join(F.slice(w, k * stride + 1, chunk), " "),
        )

    return row_let({"w": tokens(text)}, body)


@memo_expr
def doc_fingerprint(text: Column | str) -> Column:
    """md5 of normalized text - the portable exact-dedup key."""
    return F.md5(normalize_text(text))


@memo_expr
def rolling_hash_fingerprint(text: Column | str, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min of rolling window hashes
    over the token stream (robust to local edits, row-local)."""

    def body(s: Column) -> Column:
        w = s["w"]
        window_hashes = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - window, F.lit(0))),
            lambda i: F.xxhash64(F.array_join(F.slice(w, i + 1, window), " ")),
        )
        return F.array_min(window_hashes)

    return row_let({"w": tokens(text)}, body)


def _max_run_count(arr: Column) -> Column:
    """Count of the most frequent element in ``arr``, row-local.

    Sort the array, then one ``aggregate`` pass carries (prev element,
    current run length, best run length) — mode frequency without any
    per-document shuffle or explode. The whole computation stays inside
    a single JVM expression, so a 100 TB corpus pays exactly one
    map-only pass."""
    s = F.array_sort(arr)
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def _step(a: Column, x: Column) -> Column:
        newrun = (
            F.when(a["prev"].isNotNull() & (a["prev"] == x), a["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
        )
        return F.struct(
            x.alias("prev"),
            newrun.alias("run"),
            F.greatest(a["best"], newrun).alias("best"),
        )

    return F.aggregate(s, acc0, _step, lambda a: a["best"])


def top_token_frac_of(w: Column) -> Column:
    """Token-array form of :func:`top_token_frac` — callers that
    already materialized the token array (e.g. to share one tokenize
    pass across several repetition metrics) use this directly; the
    expensive normalize+split never runs more than once per row."""
    return _max_run_count(w).cast("double") / F.greatest(
        F.size(w), F.lit(1)
    ).cast("double")


@memo_expr
def top_token_frac(text: Column | str) -> Column:
    """Gopher-style repetition signal: fraction of tokens taken by the
    single most frequent token (high -> degenerate/repetitive text)."""
    return row_let({"w": tokens(text)}, lambda s: top_token_frac_of(s["w"]))


def word_bigrams_of(w: Column) -> Column:
    """Token-array form of :func:`word_bigrams`."""
    m = F.size(w) - 1
    return F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, m),
            F.slice(w, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


@memo_expr
def word_bigrams(text: Column | str) -> Column:
    """All consecutive token bigrams (duplicates preserved — unlike
    word_shingles, which deduplicates for set semantics)."""
    return row_let({"w": tokens(text)}, lambda s: word_bigrams_of(s["w"]))


def top_bigram_frac_of(w: Column) -> Column:
    """Token-array form of :func:`top_bigram_frac` (the bigram array is
    itself bound once — it is referenced by both the mode count and the
    size denominator)."""
    return row_let(
        {"bg": word_bigrams_of(w)},
        lambda s: _max_run_count(s["bg"]).cast("double")
        / F.greatest(F.size(s["bg"]), F.lit(1)).cast("double"),
    )


@memo_expr
def top_bigram_frac(text: Column | str) -> Column:
    """Fraction of token bigrams taken by the most frequent bigram —
    the 2-gram repetition filter from the Gopher/MassiveText quality
    rules (fraction-of-characters-in-top-2-gram, adapted to token
    counts so the DuckDB oracle is exact)."""
    return row_let({"w": tokens(text)}, lambda s: top_bigram_frac_of(s["w"]))


# PII scrubbing patterns (Java regex, applied via regexp_replace; the
# standard pre-training redaction pass — emails / E.164-ish phones /
# IPv4, the three high-precision patterns the public C4/Dolma cleanup
# recipes redact). Deliberately conservative: favor precision over
# recall so the scrubber never mangles ordinary prose.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\+?\d{1,3}[-. (]{1,2}\d{3}[-. )]{1,2}\d{3}[-. ]?\d{4}", "<PHONE>"),
    "ipv4": (
        # lookarounds, not \b: a word boundary would still match the
        # tail of dotted version strings like v1.2.3.4.5
        r"(?<![\d.])(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
        r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?![\d.])",
        "<IP>",
    ),
}


@memo_expr
def pii_scrub(text: Column | str) -> Column:
    """Redact emails, phone numbers and IPv4 addresses with typed
    placeholder tokens. Chained regexp_replace: map-only JVM regex, no
    Python, no shuffle — scrubbing is scan-speed at any corpus size."""
    out = F.col(text) if isinstance(text, str) else text
    for pattern, repl in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, repl)
    return out


@memo_expr
def pii_counts(text: Column | str) -> Column:
    """struct(email int, phone int, ipv4 int): per-document match counts
    for audit metrics (how much PII a source contributes) without
    materializing the scrubbed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.struct(
        *[
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(name)
            for name, (pat, _) in PII_PATTERNS.items()
        ]
    )
