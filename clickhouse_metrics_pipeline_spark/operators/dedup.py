"""Deduplication operators for large-scale training-data pipelines.

Four families, all pure DataFrame ops (no Python in the hot path):

- exact: hash-groupBy on normalized text (one shuffle, map-side combine).
- MinHash + LSH: shingle -> k-permutation minhash signature (row-local
  HOFs) -> band buckets -> candidate pairs via bucket self-join ->
  exact-Jaccard verification. At 100 TB the only shuffle is on band
  buckets (small keys), and verification touches only candidates.
- SimHash: 64-bit fingerprint from token hashes (row-local), near-dup
  candidates via 16-bit chunk banding, Hamming filter with xor/bit_count.
- n-gram Jaccard: exact all-pairs similarity over a shingle inverted
  index - the verification oracle for the approximate paths.

Determinism: every hash derives from xxhash64 with fixed seeds, so
signatures are stable across runs/partitions. MinHash permutations are
(a_i * h31 + b_i) mod p with h31 = xxhash64 folded into 31 bits - keeps
products within bigint under ANSI arithmetic.
"""

from __future__ import annotations

import hashlib
import random
import re
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark.plan_memo import memo_expr

_P = 2_147_483_647  # Mersenne prime 2^31-1
_rng = random.Random(42)
_MINHASH_A = [_rng.randrange(1, _P) for _ in range(256)]
_MINHASH_B = [_rng.randrange(0, _P) for _ in range(256)]


def _materialize_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Eagerly compute ``result`` and release the ``cached`` inputs.

    The pair-finding operators persist intermediates (banded corpus,
    candidate sets) that feed multiple branches of one plan. Left alone,
    those caches outlive the query — in a long-lived session running
    many queries they accumulate and evict each other's blocks (measured
    as a uniform ~1.5-2x warm-time drift across *unrelated* queries).
    So: materialize the (small) result with an eager localCheckpoint —
    it stays distributed, no driver collect — then unpersist every
    intermediate. The checkpoint blocks' lifetime is tied to the
    returned DataFrame (the ContextCleaner reclaims them on GC), unlike
    cache-manager entries which pin memory until an explicit unpersist.
    For a persistent production index, write ``result`` to a table
    instead — localCheckpoint is not fault-tolerant across executor
    loss."""
    out = result.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


def normalize_text(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))


def tokens(text: Column | str) -> Column:
    return F.split(normalize_text(text), " ")


def _grams_of(w: Column, n: int) -> Column:
    """n-gram array of a BOUND token array, one gram per start position.

    Built by zipping n shifted slices of the token array
    (``zip_with(w[0:m], w[1:m], concat)`` iterated), so each gram costs
    n-1 string concats instead of an O(n)-sized ``slice`` +
    ``array_join`` per position — the earlier slice-per-gram form was
    quadratic in document length and measured ~10x slower on the sf0.1
    corpus."""
    m = F.size(w) - (n - 1)
    grams = F.slice(w, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(w, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


@memo_expr
def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text.

    The token array is bound ONCE per row with ``row_let`` (r11
    optimization, guide §1.2 step 2): the zip_with chain is
    CodegenFallback, so without the binding every ``slice(w, ...)`` and
    ``size(w)`` reference re-ran the whole normalize+split — 2n
    tokenizations per row (16 copies of ``split(lower(trim(...)))`` in
    the n=8 plans, e.g. plans/r11/docs_repeated_spans_before5.txt
    node 2)."""
    from clickhouse_metrics_pipeline_spark.functions.expr import row_let

    return row_let(
        {"w": tokens(text)},
        lambda s: F.array_distinct(
            F.when(F.size(s["w"]) >= n, _grams_of(s["w"], n)).otherwise(
                F.array()
            )
        ),
    )


@memo_expr
def ordered_word_shingles(text: Column | str, n: int = 8) -> Column:
    """Word n-grams of the normalized text in document order, one per
    start position (NOT distinct — positional twin of
    :func:`word_shingles`, same zip_with construction and same
    ``row_let`` single-tokenization binding). Element ``i`` (0-based)
    is the gram starting at token ``i``; callers that need positions
    pair it with ``posexplode``."""
    from clickhouse_metrics_pipeline_spark.functions.expr import row_let

    return row_let(
        {"w": tokens(text)},
        lambda s: F.when(F.size(s["w"]) >= n, _grams_of(s["w"], n)).otherwise(
            F.array().cast("array<string>")
        ),
    )


def repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_count: int | None = None,
) -> DataFrame:
    """Maximal duplicated token spans: for every document, the merged
    intervals of tokens covered by some k-gram that occurs >= min_count
    times in the corpus (within- or cross-document). The token-level
    twin of exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    instead of dropping whole near-duplicate documents, this localizes
    the repeated regions so a curation pipeline can cut them.

    Returns one row per maximal span: (id_col, span_start, span_tokens,
    n_dup_grams), where span_start is the 0-based token index, two hit
    grams merge iff their [pos, pos+k) token intervals share a token,
    and n_dup_grams counts the duplicated k-gram starts inside the span.

    Scale: positional k-grams are row-local HOFs (no Python, ONE
    kernel pass — repeat counting is a count-over-window on the 60-bit
    gram hash, so the gram construction is never recomputed for a
    second join input and the only shuffles are by gram hash then by
    document). A gram's window partition is its posting list — bounded
    by that gram's corpus frequency, the same distribution the gram
    groupBy would shuffle. The island merge is a bounded per-document
    sort window, the same sweep shape as interval-union coverage. All
    arithmetic is integer, so results are combine-order exact.

    ``max_count`` is the df-cap (the twin of ngram_jaccard's
    ``max_doc_freq``): grams occurring more than that many times in
    the corpus are treated as boilerplate, not duplication — they are
    dropped from the hit set, so a pathologically frequent k-gram
    never dominates the span output or any downstream per-document
    window. (The count itself stays a single-pass window; a corpus
    whose hot grams are large enough to skew that count should switch
    to the groupBy-count + semi-join form, which combines map-side —
    documented tradeoff: that form recomputes the gram kernel for the
    join probe side.)"""
    from clickhouse_metrics_pipeline_spark.functions.hashing import (
        portable_hash60,
    )
    from pyspark.sql.window import Window

    # r11 optimization (guide §2.3): hash each gram INSIDE the array so
    # the Generate emits (pos, bigint) rows instead of materializing the
    # ~8-word gram strings through the explode; portable_hash60 runs
    # exactly once per gram either way, the values are identical.
    pg = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(ordered_word_shingles(text_col, k), portable_hash60)
        ).alias("pos", "h"),
    )
    keep = F.col("_n") >= min_count
    if max_count is not None:
        keep = keep & (F.col("_n") <= max_count)
    hits = (
        pg.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .where(keep)
        .select(id_col, "pos")
    )
    # sweep-line island merge: a hit opens a new span iff its start is
    # at or past every earlier hit's interval end (pos + k)
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.select(
        id_col,
        "pos",
        F.when(
            F.col("pos")
            >= F.coalesce(F.max(F.col("pos") + k).over(w_prev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = isl.select(id_col, "pos", F.sum("_new").over(w_run).alias("_g"))
    return grp.groupBy(id_col, "_g").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + k - F.min("pos")).cast("bigint").alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
    ).drop("_g")


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct normalized text.

    Returns (keeper_id, n_copies, ids). Hash-groupBy on a 64-bit content
    hash, not the full text, so shuffle keys stay small; collisions are
    broken by grouping on the hash only (at 2^64, negligible)."""
    h = F.xxhash64(normalize_text(text_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .drop("_h")
    )


def shingle_hashes(shingles: Column) -> Column:
    """31-bit base hashes of a shingle array (hash once, permute k times)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))


def minhash_signature(shingles: Column, k: int = 64) -> Column:
    """k-wide MinHash signature as ARRAY<BIGINT>, row-local.

    Unrolled over k Python-side so each permutation is a flat
    ``array_min(transform(...))`` over the shared base-hash array -
    subexpression elimination computes xxhash64 once per shingle, not
    k times (the naive nested-HOF form is ~100x slower)."""
    h31 = shingle_hashes(shingles)

    def _perm(a: int, b: int):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_P))

    return F.array(
        *[
            F.array_min(F.transform(h31, _perm(_MINHASH_A[i], _MINHASH_B[i])))
            for i in range(k)
        ]
    )


def minhash_signature_np(shingle_h31: Column, k: int = 64) -> Column:
    """Vectorized MinHash signature: Arrow-batched numpy kernel.

    Semantically identical to :func:`minhash_signature` (same A/B
    constants, same 31-bit base hashes), but computes all k permutation
    minima as one (k x n) int64 broadcast per document instead of k
    interpreted HOF passes. HOF lambdas are evaluated per-element outside
    whole-stage codegen, so at k=64 the expression form dominates the
    whole LSH pipeline; the numpy form is ~10x faster and is what
    ``minhash_lsh_pairs`` uses in the hot path. Products stay in int64:
    a,b,h < 2^31 so a*h+b < 2^62 + 2^31."""
    from pyspark.sql.pandas.functions import pandas_udf

    A = np.asarray(_MINHASH_A[:k], dtype=np.int64)[:, None]
    B = np.asarray(_MINHASH_B[:k], dtype=np.int64)[:, None]

    @pandas_udf("array<bigint>")
    def _sig(h31: pd.Series) -> pd.Series:
        out = []
        for h in h31:
            hv = np.asarray(h, dtype=np.int64)[None, :]
            out.append((A * hv + B) % _P if hv.size else np.empty((k, 0)))
        return pd.Series([s.min(axis=1) if s.size else None for s in out])

    return _sig(shingle_h31)


_WS_RE = re.compile(r"\s+")


def minhash_signature_from_text(
    text: Column | str, k: int = 64, shingle_n: int = 3
) -> Column:
    """Raw text -> k-wide MinHash signature in ONE Arrow-batched kernel.

    Fuses normalize/tokenize/shingle/base-hash/permute per document;
    the HOF pipeline (word_shingles -> shingle_hashes -> signature)
    evaluates its lambdas per array element outside whole-stage codegen
    and measured ~5-7 s per corpus pass at sf0.1 — this fused kernel does
    the same corpus in <1 s. Base hash is crc32 mod P (deterministic,
    31-bit, like the HOF path's folded xxhash64); the two paths produce
    DIFFERENT signatures but statistically identical LSH recall, and
    candidate pairs are always re-verified with exact string-shingle
    Jaccard, so the final output semantics are unchanged. Embarrassingly
    parallel, no shuffle — linear scale to 100 TB.

    Returns NULL for documents with fewer than ``shingle_n`` tokens
    (mirrors the HOF path's empty-shingle -> NULL signature).
    """
    from pyspark.sql.pandas.functions import pandas_udf

    A = np.asarray(_MINHASH_A[:k], dtype=np.int64)[:, None]
    B = np.asarray(_MINHASH_B[:k], dtype=np.int64)[:, None]

    @pandas_udf("array<bigint>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = _WS_RE.sub(" ", t).strip().lower().split(" ")
            if len(toks) < shingle_n:
                out.append(None)
                continue
            # crc32 once per token, then combine consecutive token hashes
            # numerically (rolling polynomial) — no gram strings at all
            th = np.fromiter(
                (zlib.crc32(tok.encode()) for tok in toks),
                dtype=np.int64,
                count=len(toks),
            )
            g = th[: len(toks) - shingle_n + 1] % _P
            for j in range(1, shingle_n):
                g = (g * 1_000_003 + th[j : len(toks) - shingle_n + 1 + j]) % _P
            h = np.unique(g)
            out.append(((A * h[None, :] + B) % _P).min(axis=1))
        return pd.Series(out)

    return _sig(F.col(text) if isinstance(text, str) else text)


def minhash_band_buckets_from_text(
    text: Column | str, k: int = 64, bands: int = 16, shingle_n: int = 3
) -> Column:
    """Raw text -> the ``bands`` LSH bucket keys in ONE Arrow kernel.

    Fuses :func:`minhash_signature_from_text` with band hashing: the
    (bands x rows) signature matrix is folded per band with an FNV-1a
    style uint64 mix, so the plan needs no string band-join, no xxhash64
    HOF, and no 64-wide signature array in the shuffle — just
    ``bands`` bigints per document. Bucket values are opaque keys;
    equality (not order) is all LSH needs. NULL for docs with fewer than
    ``shingle_n`` tokens, mirroring the signature kernel."""
    from pyspark.sql.pandas.functions import pandas_udf

    rows = k // bands
    A = np.asarray(_MINHASH_A[:k], dtype=np.int64)[:, None]
    B = np.asarray(_MINHASH_B[:k], dtype=np.int64)[:, None]
    FNV_OFF = np.uint64(14695981039346656037)
    FNV_PRIME = np.uint64(1099511628211)

    @pandas_udf("array<bigint>")
    def _bands(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                toks = _WS_RE.sub(" ", t).strip().lower().split(" ")
                if len(toks) < shingle_n:
                    out.append(None)
                    continue
                th = np.fromiter(
                    (zlib.crc32(tok.encode()) for tok in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
                g = th[: len(toks) - shingle_n + 1] % _P
                for j in range(1, shingle_n):
                    g = (g * 1_000_003 + th[j : len(toks) - shingle_n + 1 + j]) % _P
                h = np.unique(g)
                sig = ((A * h[None, :] + B) % _P).min(axis=1)
                band = sig.astype(np.uint64).reshape(bands, rows)
                acc = np.full(bands, FNV_OFF, dtype=np.uint64)
                for r in range(rows):
                    acc = (acc ^ band[:, r]) * FNV_PRIME
                out.append(acc.view(np.int64))
        return pd.Series(out)

    return _bands(F.col(text) if isinstance(text, str) else text)


def gram_hashes_from_text(text: Column | str, shingle_n: int = 3) -> Column:
    """Raw text -> sorted distinct 64-bit shingle hashes, one Arrow kernel.

    The exact-verification twin of the signature kernel: same
    normalize/tokenize/rolling-gram dataflow, but grams are hashed into
    the full uint64 space (wraparound polynomial over per-token crc32),
    so Jaccard over these arrays equals Jaccard over the string shingles
    up to a ~1e-15 per-pair collision probability — while candidate
    verification joins ship small bigint arrays instead of n-gram text
    (the 100 TB difference between shuffling hashes and shuffling the
    corpus). NULL when the doc has fewer than ``shingle_n`` tokens."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _grams(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                toks = _WS_RE.sub(" ", t).strip().lower().split(" ")
                if len(toks) < shingle_n:
                    out.append(None)
                    continue
                th = np.fromiter(
                    (zlib.crc32(tok.encode()) for tok in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                g = th[: len(toks) - shingle_n + 1].copy()
                for j in range(1, shingle_n):
                    g = g * np.uint64(1_000_003) + th[j : len(toks) - shingle_n + 1 + j]
                # fmix64 avalanche: the raw polynomial is structured (low
                # token-hash entropy -> clustered high bits), which makes
                # hash-join bucket chains degenerate; mixing restores
                # uniform dispersion (measured 5x on the inverted-index
                # self-join)
                g ^= g >> np.uint64(33)
                g *= np.uint64(0xFF51AFD7ED558CCD)
                g ^= g >> np.uint64(33)
                g *= np.uint64(0xC4CEB9FE1A85EC53)
                g ^= g >> np.uint64(33)
                out.append(np.unique(g).view(np.int64))
        return pd.Series(out)

    return _grams(F.col(text) if isinstance(text, str) else text)


def _band_buckets(sig: Column, bands: int, rows: int) -> Column:
    """Hash each r-row band -> ARRAY<STRUCT<band INT, bucket BIGINT>>."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(F.array_join(F.slice(sig, b * rows + 1, rows), ",")).alias(
                "bucket"
            ),
        ),
    )


def jaccard_verify(
    candidates: DataFrame, shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via shingle sets."""
    s = shingled.select(
        F.col(id_col).alias("_id"), F.col("shingles").alias("_sh")
    )
    a = s.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sh_a")
    b = s.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_sh_b")
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    return joined.withColumn(
        "jaccard", inter.cast("double") / union.cast("double")
    ).drop("_sh_a", "_sh_b")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    banded: DataFrame | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, exact-Jaccard verified.

    bands=16 x rows=4 at threshold 0.8: a 0.9-similar pair is missed with
    probability (1-0.9^4)^16 ~ 4e-8 - effectively exact for near-dup use.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Dataflow (one full-corpus pass): text -> shingles -> 31-bit hashes ->
    numpy signature -> band buckets, materialized once (persist); the
    candidate self-join runs on the small banded table; exact-Jaccard
    verification RE-computes string shingles only for candidate ids (a
    few hundred rows) instead of persisting the full string-shingle
    corpus — at 100 TB that persist is the difference between caching
    ~64 longs/doc and caching the documents' full n-gram text.

    ``banded`` / ``shingled`` accept STORED-INDEX relations built by the
    caller (``banded``: (id_col, band, bucket) from
    :func:`minhash_band_buckets_from_text`; ``shingled``: (id_col, sh)
    from :func:`gram_hashes_from_text` with the same ``shingle_n``).
    In production the LSH table and the gram-hash fingerprints are
    computed once at ingest and stored next to the corpus — every dedup
    query then probes the index instead of re-running the full-corpus
    kernel. Caller owns the lifetime of provided indexes (they are NOT
    unpersisted here); when omitted, per-query intermediates are built,
    persisted, and released before returning."""
    # small corpus files arrive as one input split; spread the compute-
    # heavy signature kernel across the cluster first. The fused kernel
    # emits the band bucket keys directly (no 64-wide signature array,
    # no string band-join in the plan).
    par = df.sparkSession.sparkContext.defaultParallelism
    released: tuple[DataFrame, ...] = ()
    if banded is None:
        banded = (
            df.repartition(par, id_col)
            .select(
                F.col(id_col),
                F.posexplode(
                    minhash_band_buckets_from_text(
                        text_col, num_hashes, bands, shingle_n
                    )
                ).alias("band", "bucket"),
            )
            .persist()
        )
        released += (banded,)

    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # verification: gram-hash only the candidate docs — ONE corpus scan
    # for the union of ids (semi-join first, so the kernel runs on
    # survivors only), joined back as both sides; Jaccard over distinct
    # 64-bit gram hashes == string-shingle Jaccard (collision odds
    # ~1e-15/pair) with bigint arrays instead of n-gram text in flight.
    # With a stored gram index the survivors join it directly instead.
    cand = candidates.persist()
    if shingled is None:
        ids = (
            cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
        )
        cand_sh = (
            df.join(F.broadcast(ids), id_col, "left_semi")
            .select(
                F.col(id_col),
                gram_hashes_from_text(text_col, shingle_n).alias("_sh"),
            )
            .persist()
        )
        released += (cand_sh,)
    else:
        cand_sh = shingled.select(F.col(id_col), F.col("sh").alias("_sh"))
    a = cand_sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = cand_sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    out = (
        joined.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _materialize_release(out, *released, cand)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
    shingled: DataFrame | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via a prefix-filtered
    shingle inverted index.

    ``shingled`` accepts a STORED-INDEX relation (id_col, sh) built by
    the caller with :func:`gram_hashes_from_text` at the same
    ``shingle_n`` — the production shape where gram-hash fingerprints
    are computed once at ingest and stored next to the corpus, so each
    dedup query probes the index instead of re-running the full-corpus
    kernel. Caller owns its lifetime (not unpersisted here); the df-cap
    rebuild (if triggered) still produces its own scoped intermediate.

    The index is built over 64-bit gram HASHES (the same
    :func:`gram_hashes_from_text` kernel LSH verification uses), not the
    n-gram strings: the inverted index and its self-join ship 8-byte
    longs instead of ~25-byte gram text - at 100 TB that is the
    difference between shuffling hashes and shuffling the corpus.
    Jaccard over distinct gram hashes equals string-shingle Jaccard up
    to ~1e-15/pair collision odds. This is the exact baseline the LSH
    path approximates (same results, guaranteed; LSH trades a ~1e-8
    miss probability for an even smaller join).

    ``max_doc_freq``: the self-join's cost is sum(df^2) over shingle
    document frequencies, so boilerplate shingles appearing in thousands
    of documents dominate it quadratically while carrying no dedup
    signal. With a cap, shingles whose document frequency exceeds it are
    dropped from the index AND from the per-doc set sizes — i.e. the
    operator computes exact Jaccard over the capped shingle sets, a
    well-defined semantic both engines (and the DuckDB oracle,
    ``oracle_fragments.jaccard_pairs_sql``) express identically. This is
    the standard df-cap prepass a 100 TB corpus requires; None keeps the
    uncapped exact baseline.

    ``probe``: a relation of ``id_col`` values restricting output to
    pairs where AT LEAST ONE side is a probe doc — the incremental-
    ingest shape: with ``probe`` = the newly-ingested delta, the prefix
    join runs delta-prefixes x all-prefixes, so a maintenance run costs
    O(|delta| x corpus) postings instead of re-paying the full corpus^2
    join (delta x delta pairs are found too; both orientations are
    normalized and deduped). The prefix/length/positional prunes are
    symmetric in (x, y), so soundness is unchanged. Union the result
    with the stored pair table to get exactly the full-rebuild pairs
    (pinned in tests/test_incremental_dedup.py).
    """
    # NO isnotnull filter on the kernel output: a filter on a UDF column
    # gets its own ArrowEvalPython pushed below the repartition exchange
    # (single input split -> single-threaded second evaluation of the
    # whole kernel). NULL arrays (docs with < n tokens) explode to zero
    # rows anyway, which is exactly the drop we want.
    # Exact algorithm: PREFIX FILTERING (Bayardo/Ma/Srikant, "Scaling Up
    # All Pairs Similarity Search", WWW'07). With every doc's shingle set
    # sorted by one global total order, a pair with Jaccard >= t must
    # share an element inside both docs' first n - ceil(t*n) + 1 elements
    # (pigeonhole on the required overlap ceil(t*n) <= inter). So the
    # inverted index holds only those PREFIXES — at t=0.8 that is ~20% of
    # the postings, and the self-join (quadratic in per-shingle df)
    # shrinks ~25x — then candidates are verified exactly with
    # array_intersect over the full hash arrays. No recall loss; this is
    # the join that survives corpus scale, where indexing every shingle
    # does not.
    # kernel output is np.unique'd — sorted by UNSIGNED hash value, the
    # same total order in every doc, which is all the prefix lemma needs
    if shingled is None:
        shingled = base = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, id_col
        ).select(
            F.col(id_col), gram_hashes_from_text(text_col, shingle_n).alias("sh")
        ).persist()
        released: tuple[DataFrame, ...] = (base,)
    else:
        base = shingled
        released = ()
    if max_doc_freq is not None:
        # df-cap prepass: drop shingles appearing in > max_doc_freq docs
        # from the sets (boilerplate carries no signal and its df^2 join
        # cost dominates), then rebuild per-doc arrays. Adaptive, like
        # AQE's empty-relation propagation but driver-side: when NO
        # shingle exceeds the cap (clean corpora), the capped result is
        # provably identical to the uncapped one, so the rebuild
        # (anti-join + regroup shuffle) is skipped entirely — one cheap
        # agg probe over the cached index decides.
        ex = base.select(id_col, F.explode("sh").alias("s"))
        hot = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("s")
        )
        if hot.limit(1).count() > 0:
            # collect_list order is nondeterministic -> array_sort
            # restores one consistent (signed) global order
            shingled = (
                ex.join(F.broadcast(hot), "s", "left_anti")
                .groupBy(id_col)
                .agg(F.array_sort(F.collect_list("s")).alias("sh"))
                .persist()
            )
            released += (shingled,)
    n = F.size("sh")
    # safe prefix length: n - floor(t*n - eps) >= n - ceil(t*n) + 1; the
    # eps keeps float jitter from rounding floor(t*n) UP past the true
    # integer (which would shorten the prefix and silently drop pairs)
    p = (n - F.floor(F.lit(threshold) * n - F.lit(1e-9))).cast("int")
    pre = shingled.select(
        F.col(id_col), n.alias("n"), F.posexplode(F.slice("sh", 1, p)).alias("pos", "s")
    )
    # two more sound prunes from the same literature, applied inside the
    # prefix join before the distinct shuffle:
    # - length filter: Jaccard >= t forces inter >= t*max(n_a,n_b) and
    #   inter <= min(n_a,n_b), so min/max >= t;
    # - positional filter (PPJoin, Xiao et al., WWW'08): a match at
    #   0-based positions (i, j) bounds the overlap by
    #   1 + min(n_a-i-1, n_b-j-1), which must reach the required
    #   overlap alpha = t/(1+t)*(n_a+n_b). Sound for the pair because a
    #   qualifying pair's FIRST shared element (in the global order) is
    #   provably inside both prefixes and maximizes the bound.
    # Together they cut candidates ~7x at t=0.8 on the test corpus.
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("x.n") + F.col("y.n")
    ) - F.lit(1e-9)
    ubound = F.lit(1) + F.least(
        F.col("x.n") - F.col("x.pos") - 1, F.col("y.n") - F.col("y.pos") - 1
    )
    shared_filters = (
        F.least("x.n", "y.n")
        >= F.lit(threshold) * F.greatest("x.n", "y.n") - F.lit(1e-9)
    ) & (ubound >= alpha)
    if probe is None:
        cand_raw = (
            pre.alias("x")
            .join(pre.alias("y"), "s")
            .where(
                (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")) & shared_filters
            )
            .select(
                F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
            )
        )
    else:
        # delta maintenance: probe-prefixes x all-prefixes. Pair
        # orientation is normalized (least/greatest) because a probe
        # doc may be either side; probe x probe pairs appear in both
        # orientations and collapse in the distinct.
        pre_x = pre.join(probe.select(id_col), id_col, "left_semi")
        cand_raw = (
            pre_x.alias("x")
            .join(pre.alias("y"), "s")
            .where(
                (F.col(f"x.{id_col}") != F.col(f"y.{id_col}")) & shared_filters
            )
            .select(
                F.least(F.col(f"x.{id_col}"), F.col(f"y.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"x.{id_col}"), F.col(f"y.{id_col}")).alias(
                    "id_b"
                ),
            )
        )
    cand = (
        cand_raw.distinct()
        .persist()  # consumed once, but caching keeps the verify joins
        # from re-running the candidate join when AQE re-plans stages
    )
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("sh").alias("_sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    # no explicit broadcast on the verify joins: at test scale AQE
    # broadcasts the (small) corpus side; at 100 TB the corpus side is
    # huge and the CANDIDATE side is the broadcastable one — AQE picks
    # per actual runtime sizes, a hint would pin the wrong side at scale
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _materialize_release(out, *released, cand)


def incremental_pair_update(
    all_shingled: DataFrame,
    stored_pairs: DataFrame,
    new_ids: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Maintain a stored verified-pair table under delta ingest: find
    only the pairs touching the newly-ingested docs (``probe`` path of
    :func:`ngram_jaccard_pairs` — delta-prefixes x all-prefixes, so the
    maintenance run costs O(|delta| x corpus) postings, not corpus^2)
    and union them with the stored table. Old-only pairs are already
    stored and delta pairs always touch a new doc, so the union is
    disjoint and equals the full rebuild exactly (pinned in
    tests/test_incremental_dedup.py). This is the ingest-time job that
    keeps the ``pairs08`` artifact fresh — the reference's analog is
    the insert-triggered MV refresh (``schema.sql:146-192``), here for
    a state SQL MVs cannot express (cross-row similarity joins)."""
    delta = ngram_jaccard_pairs(
        all_shingled,
        threshold=threshold,
        id_col=id_col,
        shingled=all_shingled,
        probe=new_ids,
    )
    return stored_pairs.unionByName(delta)


SIMHASH_BITS = 62  # bits 0..61: keeps every bit mask a positive BIGINT
PORTABLE_SIMHASH_BITS = 60  # 15 md5 hex chars -> bit-exact in any engine


def _simhash_from_hashes(hashes: Column, bits: int) -> Column:
    """Majority-vote SimHash over a token-hash array, row-local.

    For each bit j: sum +/-1 over token hashes' bit j; fingerprint bit j
    is 1 when the sum is positive.

    Single corpus-scan form: ONE ``aggregate`` carries a bits-counter
    accumulator array and a ``zip_with`` against the bit-mask array adds
    +/-1 to every counter per token. The earlier per-bit form ran 62
    separate ``aggregate`` passes, each re-evaluating the tokenize+hash
    subexpression (no CSE across aggregate initial plans) — ~10x slower
    on the sf0.1 corpus."""
    masks = F.array(*[F.lit(1 << j) for j in range(bits)])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    signed = F.zip_with(
        counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("bigint"))
    )
    return F.aggregate(signed, F.lit(0).cast("bigint"), lambda a, x: a + x)


def simhash64(text: Column | str) -> Column:
    """SimHash fingerprint of the token multiset (62 bits in a BIGINT),
    row-local. xxhash64 token hashes — the fast scale path (JVM hash, no
    hex parse). 62 bits rather than 64 so every mask literal stays a
    positive long under ANSI arithmetic."""
    hashes = F.transform(tokens(text), lambda t: F.xxhash64(t))
    return _simhash_from_hashes(hashes, SIMHASH_BITS)


def simhash60_portable(text: Column | str) -> Column:
    """SimHash with md5-derived 60-bit token hashes (first 15 hex chars).

    Bit-for-bit reproducible in any engine with md5 + hex parse (DuckDB:
    ``('0x' || substr(md5(tok), 1, 15))::BIGINT``) — used where an exact
    cross-engine oracle matters; ~30% slower than :func:`simhash64`."""
    from clickhouse_metrics_pipeline_spark.functions.hashing import (
        portable_hash60,
    )

    hashes = F.transform(tokens(text), portable_hash60)
    return _simhash_from_hashes(hashes, PORTABLE_SIMHASH_BITS)


def simhash60_portable_kernel(text: Column | str) -> Column:
    """Arrow-kernel twin of :func:`simhash60_portable` - bit-identical
    signatures (pinned by test_training_ops), ~10x cheaper cold: the
    expression form compiles a 60-iteration aggregate/zip_with codegen
    class (~8 s janino on first run); the kernel is a short numpy loop
    with a per-batch token-hash memo (corpus vocabularies repeat, so
    md5 runs once per distinct token per batch, not once per
    occurrence)."""
    from pyspark.sql.pandas.functions import pandas_udf

    shifts = np.arange(PORTABLE_SIMHASH_BITS, dtype=np.uint64)

    @pandas_udf("bigint")
    def _sim(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = _WS_RE.sub(" ", t).strip().lower().split(" ")
            hs = np.empty(len(toks), dtype=np.uint64)
            for i, tok in enumerate(toks):
                h = memo.get(tok)
                if h is None:
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    memo[tok] = h
                hs[i] = h
            bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sig = int(((votes > 0).astype(np.uint64) << shifts).sum())
            out.append(sig)
        return pd.Series(out, dtype="object")

    return _sim(F.col(text) if isinstance(text, str) else text)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation by bit-chunk equality over max_hamming+1 chunks
    (pigeonhole: distance <= max_hamming guarantees one chunk equal), so
    the pair set is EXACT, then xor/bit_count verification. ``portable``
    switches to the md5-derived 60-bit signature with a cross-engine
    oracle (:func:`simhash60_portable`).

    ``signatures`` accepts a STORED-INDEX relation (id_col, sim) built
    by the caller with the matching signature kernel — the production
    shape (fingerprints computed once at ingest, stored in a signatures
    table, probed by every dedup query). Caller owns its lifetime."""
    n_chunks = max_hamming + 1
    bits = PORTABLE_SIMHASH_BITS if portable else SIMHASH_BITS
    sig = simhash60_portable_kernel(text_col) if portable else simhash64(text_col)
    width = -(-bits // n_chunks)  # ceil: last chunk may be narrower
    # Cache the signature relation: the chunk self-join consumes it twice
    # and Spark re-executes the tokenize+hash lineage per side otherwise
    # (exchange reuse doesn't fire — the per-side projections push below
    # the exchange and break canonical equality). One narrow (id, int64)
    # row per document: at 100 TB this is ~GBs, MEMORY_AND_DISK-safe; for
    # a persistent corpus write it to a signatures table instead.
    released: tuple[DataFrame, ...] = ()
    if signatures is None:
        sh = (
            df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
            .select(F.col(id_col), sig.alias("sim"))
            .cache()
        )
        released = (sh,)
    else:
        sh = signatures.select(F.col(id_col), F.col("sim"))
    chunks = sh.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "sim", "ck.chunk", "ck.key")
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("sim").alias("sim_a"), "chunk", "key")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("sim").alias("sim_b"), "chunk", "key")
    # Hamming filter BEFORE the dedup shuffle: it commutes with
    # distinct, each match costs one xor+popcount on columns already in
    # hand, and it shrinks the distinct's input from every bucket
    # collision (~20x the output at sf0.1) to the qualifying pairs —
    # three narrow columns instead of two 64-bit signatures per row.
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    out = (
        a.join(b, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return _materialize_release(out, *released)


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph ->
    (doc_id, keeper_id): every document that appears in at least one
    pair, labeled with the minimum doc id of its component.

    Production dedup keeps ONE document per duplicate CLUSTER, not per
    pair: pairwise drop-the-higher-id (as in the training-pipeline
    query) over-deletes when similarity chains A~B, B~C without A~C.
    Component labeling is the standard fix (the reference has no
    equivalent - its engine stops at pairwise SQL joins; this is part
    of the LLM-data-pipeline extension suite).

    Algorithm: distributed min-label propagation with pointer jumping.
    Each round every node adopts the minimum label among itself and its
    neighbors (one shuffle: edges join labels, groupBy dst), then labels
    are path-compressed (labels join labels: lbl <- lbl(lbl)), which
    doubles the propagation horizon per round - O(log diameter) rounds
    total, the same bound as alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    with a simpler per-round shape. The loop is driver-controlled with
    an exact convergence check (any label changed?); each round's labels
    are eagerly localCheckpoint'ed so lineage stays O(1) deep instead of
    O(rounds) (the classic iterative-algorithm stack-overflow trap).
    Near-dup graphs have tiny, dense components (variant clusters of one
    boilerplate), so 2-3 rounds converge in practice; max_iters bounds
    pathological chains.

    Adaptive strategy (``driver_threshold``): the verified pair graph is
    orders of magnitude smaller than the corpus, and each propagation
    round costs a fixed multi-shuffle overhead. When the materialized
    edge count is below the threshold (default 1M edges ~ 16 MB — the
    same size-based switch broadcast joins make), the components are
    solved with a driver-side union-find over the already-checkpointed
    edges instead of O(log d) shuffle rounds; results are identical
    (both produce min-id labels; equality is property-tested, and the
    distributed path stays exercised with ``driver_threshold=0``). At
    100 TB the threshold triggers only if the graph really is small —
    otherwise the distributed loop runs as before.
    """
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    edges = sym.distinct().localCheckpoint(eager=True)
    if driver_threshold > 0 and edges.count() <= driver_threshold:
        return _components_driver(edges)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neigh = (
            edges.join(
                labels.select(F.col("id").alias("src"), "lbl"), "src"
            )
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("dst", "id")
        )
        prop = labels.join(neigh, "id", "left").select(
            "id", F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl")
        )
        # pointer jump: lbl <- lbl(lbl). Labels always name real nodes
        # (they start as ids and only min-combine), so the self-join is
        # total; least() keeps monotone non-increasing labels.
        jumped = (
            prop.alias("x")
            .join(
                prop.select(
                    F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")
                ).alias("y"),
                "lbl",
                "left",
            )
            .select(
                F.col("id"), F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl")
            )
        )
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("keeper_id"))


def _components_driver(edges: DataFrame) -> DataFrame:
    """Union-find over a small (threshold-gated) symmetric edge list;
    same (doc_id, keeper_id = component min id) contract as the
    distributed loop. The collect is bounded by neardup_components'
    driver_threshold — never called on an unbounded relation."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = edges.collect()
    for r in rows:
        a, b = r.src, r.dst
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    keeper: dict = {}
    for node in parent:
        root = find(node)
        cur = keeper.get(root)
        if cur is None or node < cur:
            keeper[root] = node
    out = [(node, keeper[find(node)]) for node in parent]
    id_type = edges.schema["src"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", id_type, False),
            T.StructField("keeper_id", id_type, False),
        ]
    )
    # hand the result back through Arrow (pandas), not a Python-RDD
    # relation: downstream jobs over an RDD-backed local relation pay a
    # Python-worker round trip per action; the Arrow path stays JVM-side
    import pandas as pd

    pdf = pd.DataFrame(out, columns=["doc_id", "keeper_id"])
    return edges.sparkSession.createDataFrame(pdf, schema)


# --------------------------------------------------------------------------
# Bloom-filter membership kernel (streaming decontamination)
# --------------------------------------------------------------------------

BLOOM_MASK = (1 << 20) - 1  # 2^20-bit filter, 20-bit probe slices
BLOOM_WORDS = 1 << 15  # 32768 slots of 32 bits... (2^20 / 32 = 32768)


def bloom_decontaminate_kernel(
    bloom_bits, eval_hashes
):  # type: (object, object) -> Column
    """Row-local Bloom + exact decontamination scorer.

    ``bloom_bits`` is the dense 32-bit-word Bloom filter (numpy array of
    length 2^20/32 = 32768, dtype uint64, values < 2^32) built over the
    eval set's 8-gram md5-60 hashes with k=3 disjoint 20-bit probe
    slices — the same layout workloads_ext4.docs_bloom_decontaminate
    aggregates with bit_or, exported by
    workloads_ext4.bloom_filter_arrays. ``eval_hashes`` is the sorted
    exact eval gram-hash set (numpy int64).

    Returns a pandas UDF over the document's gram-hash array column
    (``array<bigint>``, the md5grams8 index shape) yielding
    ``struct<n_candidate_grams, n_true_shared>``. Everything is a
    closure over two broadcast-size numpy arrays (128 KB filter + the
    eval set), so the operator is STATELESS and map-only — the shape an
    at-ingest streaming decontamination filter must have: no state
    store, no join, unbounded stream, each Arrow batch scored
    vectorized."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.pandas.functions import pandas_udf

    words = np.ascontiguousarray(bloom_bits, dtype=np.uint64)
    if words.shape != (BLOOM_WORDS,):
        raise ValueError(
            f"bloom_bits must be the dense word table of shape ({BLOOM_WORDS},)"
        )
    truth = np.sort(np.asarray(eval_hashes, dtype=np.int64))

    @pandas_udf("struct<n_candidate_grams: bigint, n_true_shared: bigint>")
    def _score(sh: pd.Series) -> pd.DataFrame:
        n_cand = np.zeros(len(sh), dtype=np.int64)
        n_true = np.zeros(len(sh), dtype=np.int64)
        for i, arr in enumerate(sh):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            ok = np.ones(len(h), dtype=bool)
            for shift in (0, 20, 40):
                p = (h >> np.uint64(shift)) & np.uint64(BLOOM_MASK)
                bits = words[(p >> np.uint64(5)).astype(np.intp)]
                ok &= ((bits >> (p & np.uint64(31))) & np.uint64(1)) != 0
            cand = h[ok].view(np.int64)
            n_cand[i] = len(cand)
            if len(cand) and len(truth):
                pos = np.searchsorted(truth, cand)
                valid = pos < len(truth)
                n_true[i] = int(
                    (truth[pos[valid]] == cand[valid]).sum()
                )
        return pd.DataFrame(
            {"n_candidate_grams": n_cand, "n_true_shared": n_true}
        )

    return _score


def bloom_positions(h) -> list:
    """k=3 bit positions (disjoint 20-bit slices) of a 60-bit portable
    gram hash — the single definition both the batch filter build
    (workloads.dedup_index kind ``bloom20eval``), the batch probe
    (workloads_ext4.docs_bloom_decontaminate), and the DuckDB oracle
    layout mirror."""
    return [
        F.shiftright(h, s).bitwiseAND(F.lit(BLOOM_MASK))
        for s in (0, 20, 40)
    ]


def bloom_word_table(hashes: DataFrame, hash_col: str = "h") -> DataFrame:
    """Aggregate a hash relation into the 2^20-bit Bloom filter's
    sparse word table: (w, bits) rows over 32-bit words packed into
    BIGINTs, built with one bit_or groupBy. At most 32768 rows
    regardless of input size — the broadcastable artifact."""
    return (
        hashes.select(
            F.explode(F.array(*bloom_positions(F.col(hash_col)))).alias("p")
        )
        .select(
            F.shiftright("p", 5).alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
