"""Corpus-curation operators for large-scale training-data pipelines.

Complements `pipeline/text.py` (per-doc features) and
`pipeline/dedup.py` (near-dup removal) with the remaining stages a
production pretraining pipeline runs between raw crawl and tokenizer:

- **decontamination** — drop/flag corpus documents that share word
  n-grams with an evaluation benchmark (the standard 13-gram-overlap
  test-set leak check, here with a configurable n);
- **repetition stats** — Gopher-style intra-document repetition
  signals (duplicate-line fraction, top-bigram mass, duplicate-trigram
  fraction) used as quality filters;
- **PII redaction** — regexp scrubbing of emails / IPv4s / long digit
  runs with per-doc hit counts;
- **deterministic splits** — stable train/val/test assignment from a
  multiplicative integer hash of the doc id (no RNG: re-running the
  pipeline on a grown corpus never reshuffles old docs);
- **domain mixing** — per-source sampling rates applied with the same
  deterministic hash (reproducible weighted downsampling);
- **sequence packing** — assign documents to fixed-token-budget
  training sequences with a shard-parallel prefix-sum ("fluid"
  next-fit: each bin overflows by at most one document, the standard
  SQL-only approximation).

Scale notes.  Everything here is built-in-function SQL (JVM-side,
codegen): no Python row path, no collect.  Decontamination is an
equi-join on n-gram strings — the benchmark side is tiny (an eval
suite is O(10^5) n-grams) and broadcastable, so the corpus streams
through map-side; repetition/PII/split/mix are embarrassingly parallel
projections; packing shuffles once on the shard key and runs one
window per shard partition.

The arithmetic hash (Knuth multiplicative, mod 2^32) is chosen over
md5/xxhash because every engine evaluates 64-bit integer arithmetic
identically — the DuckDB oracles replicate it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Knuth multiplicative hash constant (2654435761 = 2^32 / phi).
HASH_MULT = 2654435761
HASH_MOD = 2**32


def det_hash(col: Column) -> Column:
    """Deterministic 32-bit mix of an integer column: engine-portable
    (pure int64 arithmetic — no overflow below ~3.4e9 ids) and
    decorrelated from sequential id order."""
    return (col.cast("long") * F.lit(HASH_MULT)) % F.lit(HASH_MOD)


# --------------------------------------------------------------------------
# decontamination


def _ngram_zip_sql(toks_sql: str, n: int) -> str:
    """``array<struct>`` of the n-token windows of ``toks_sql`` — built
    as ``arrays_zip`` of ``n`` shifted slices, whole-stage-codegen'd,
    rendered as one parsed SQL string (r12: the Column form cost ~100
    py4j round trips per build; the parsed Catalyst tree is identical).
    Caller guarantees ``size(toks) >= n`` (slice length must be
    positive).  SQL-parsed ``arrays_zip`` names struct fields by
    position ('0', '1', ...) — internal only, consumed by
    :func:`_ngram_str_sql` in the same chain."""
    m = f"(size({toks_sql}) - {n - 1})"
    return ("arrays_zip(" + ", ".join(
        f"slice({toks_sql}, {j + 1}, {m})" for j in range(n)) + ")")


def _ngram_str_sql(n: int) -> str:
    return ("concat_ws(' ', "
            + ", ".join(f"__p['{j}']" for j in range(n)) + ")")


def _span_windows(spread: DataFrame, window: int, text_col: str,
                  id_col: str) -> DataFrame:
    """(id, pos, __h): md5 of every ``window``-token span with its
    0-based window-start position — the substring-dedup family's span
    construction (``posexplode`` over ``arrays_zip`` of ``window``
    shifted slices, narrow and fully codegen'd), rendered as parsed
    SQL strings (r12: the Column form cost ~150 py4j round trips per
    build; the parsed Catalyst tree is identical).  SQL-parsed
    ``arrays_zip`` names struct fields by position ('0', '1', ...) —
    internal only, consumed by the ``concat_ws`` in the same chain."""
    toks = f"split(trim({text_col}), '\\\\s+')"
    m = f"(size({toks}) - {window - 1})"
    zipped = ("arrays_zip(" + ", ".join(
        f"slice({toks}, {j + 1}, {m})" for j in range(window)) + ")")
    spans = ", ".join(f"__p['{j}']" for j in range(window))
    return (
        spread.where(F.expr(f"size({toks}) >= {window}"))
        .selectExpr(id_col, f"posexplode({zipped}) AS (pos, __p)")
        .selectExpr(id_col, "pos",
                    f"md5(concat_ws(' ', {spans})) AS __h")
    )


def ngrams(df: DataFrame, text_col: str = "text", n: int = 3,
           carry: tuple = ()) -> DataFrame:
    """Explode each document into its word n-grams (distinct per doc).

    Built as ``explode(array_distinct(arrays_zip(slice, ..)))`` +
    ``concat_ws`` — a NARROW, fully codegen'd map (r12 optimization
    round): the former ``posexplode`` + ``lead`` window + global
    ``.distinct()`` computed the identical rows but paid TWO
    corpus-wide shuffles (token table by doc_id, gram table by
    (doc_id, ngram)).  Tokens cannot contain the join space (they are
    whitespace-split), so distinct token n-tuples map 1:1 to distinct
    joined strings, and per-document ``array_distinct`` equals the
    old global distinct (one input row per doc_id).  Docs shorter
    than ``n`` tokens yield no rows.

    ``carry`` lists extra per-document columns to keep on the output
    rows (e.g. a split tag) — carried through the explode instead of
    joined back afterwards.

    The narrow map concentrates ALL the work in the scan stage, so a
    few-split small file would serialize it — spread first (no-op at
    real scale; the old form inherited parallelism from its window
    shuffle).
    """
    from xcube_spark.util import spread_small_input

    # keyed spread: every per-doc consumer (decontaminate / bloom
    # verdicts) clusters by doc_id, so the spread exchange does double
    # duty (r12; see spread_small_input)
    df = spread_small_input(df, key="doc_id")
    carry = list(carry)
    toks = f"split(trim({text_col}), '\\\\s+')"
    return (
        df.where(F.expr(f"size({toks}) >= {n}"))
        .selectExpr(
            "doc_id", *carry,
            f"explode(array_distinct({_ngram_zip_sql(toks, n)})) AS __p")
        .selectExpr("doc_id", *carry, f"{_ngram_str_sql(n)} AS ngram")
    )


def ngrams_narrow(df: DataFrame, text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """Word n-grams with per-doc duplicates KEPT: same narrow
    ``arrays_zip`` construction as :func:`ngrams` minus the
    ``array_distinct`` — for consumers where duplicates are free
    (e.g. an idempotent ``bit_or`` Bloom aggregate).  Docs shorter
    than ``n`` tokens yield no rows."""
    toks = f"split(trim({text_col}), '\\\\s+')"
    return (
        df.where(F.expr(f"size({toks}) >= {n}"))
        .selectExpr("doc_id",
                    f"explode({_ngram_zip_sql(toks, n)}) AS __p")
        .selectExpr("doc_id", f"{_ngram_str_sql(n)} AS ngram")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    max_hits: int = 0,
) -> DataFrame:
    """Flag corpus docs sharing > `max_hits` distinct word n-grams with
    the benchmark set (test-set leakage check; production runs use
    n=13 over eval suites).

    Plan shape: benchmark n-grams are deduplicated then joined to
    corpus n-grams on the gram string.  The benchmark side is small by
    construction (eval suites, not corpora) — AQE broadcasts it, so the
    corpus never shuffles; the per-doc hit count is a partial
    aggregation on doc_id.  Returns (doc_id, n_hits, contaminated) for
    every corpus doc (docs with no hits included, n_hits = 0).
    """
    bench_grams = ngrams(benchmark, text_col, n).select("ngram").distinct()
    hits = (
        ngrams(corpus, text_col, n)
        .join(bench_grams, "ngram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > max_hits).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# repetition filters (Gopher-style)


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (Gopher Table A1 analogs):

    - ``dup_word_frac``   — 1 - distinct/total words;
    - ``top_bigram_frac`` — occurrences of the most frequent word
      bigram / total bigrams (only the max count is reported, so ties
      need no break);
    - ``dup_trigram_frac``— 1 - distinct/total word trigrams.

    All three are array expressions inside one projection — no
    explode, no shuffle; documents with < n words get 0.0.

    Performance shape: higher-order array functions evaluate
    interpreted (no codegen), so the top-bigram count must be a
    SINGLE aggregate pass over the sorted bigram array — a run-length
    max.  The naive transform-over-distinct with a nested filter
    re-materializes the bigram array once per distinct gram
    (quadratic interpreted eval; measured 35 ms/doc on 50-word docs
    vs <1 ms for the linear pass).
    """
    from xcube_spark.util import spread_small_input

    # the per-row cost here is interpreted array-expr eval (~ms/doc),
    # so a single-file scan's 2 splits would serialize the host
    docs = spread_small_input(docs)
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")
    n_words = F.size(toks)

    def gram_arr(n: int) -> Column:
        return F.when(
            n_words >= n,
            F.transform(
                F.sequence(F.lit(0), n_words - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    bi = gram_arr(2)
    tri = gram_arr(3)
    # most-frequent-bigram mass == longest equal-run in the sorted
    # bigram array: one linear aggregate, each element visited once
    top_bi = F.aggregate(
        F.array_sort(bi),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return docs.select(
        "doc_id",
        F.when(n_words > 0, 1.0 - F.size(F.array_distinct(toks)) / n_words)
        .otherwise(0.0)
        .alias("dup_word_frac"),
        F.when(F.size(bi) > 0, top_bi / F.size(bi))
        .otherwise(0.0)
        .alias("top_bigram_frac"),
        F.when(F.size(tri) > 0, 1.0 - F.size(F.array_distinct(tri)) / F.size(tri))
        .otherwise(0.0)
        .alias("dup_trigram_frac"),
    )


# --------------------------------------------------------------------------
# PII redaction

#: portable regexes (same semantics in Java regex and RE2/DuckDB):
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "long_digits": r"\b[0-9]{9,}\b",
}


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub common PII shapes, keeping per-class hit counts for audit.

    Pure regexp projection (codegen, no shuffle).  Patterns are
    intentionally dialect-portable; a production pass would add
    locale-specific phone formats and checksum-validated credit cards
    (Luhn needs one `aggregate` over digit arrays — same machinery).
    Redaction order is fixed (email → ipv4 → digit runs) so counts are
    well-defined when classes overlap.
    """
    t = F.col(text_col)
    out = docs.withColumn(
        "n_emails", F.size(F.regexp_extract_all(t, F.lit(PII_PATTERNS["email"]), 0))
    )
    red = F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>")
    out = out.withColumn(
        "n_ipv4", F.size(F.regexp_extract_all(red, F.lit(PII_PATTERNS["ipv4"]), 0))
    )
    red = F.regexp_replace(red, PII_PATTERNS["ipv4"], "<IP>")
    out = out.withColumn(
        "n_long_digits",
        F.size(F.regexp_extract_all(red, F.lit(PII_PATTERNS["long_digits"]), 0)),
    )
    red = F.regexp_replace(red, PII_PATTERNS["long_digits"], "<NUM>")
    return out.withColumn("text_redacted", red)


# --------------------------------------------------------------------------
# deterministic splits + domain mixing


def assign_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Stable train/val/test assignment: bucket = det_hash(id) % 10000
    compared against cumulative weight boundaries.  Adding new docs
    never moves an existing doc between splits (no RNG, no ordering
    dependence) — the property training pipelines need for
    reproducible eval sets.
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = det_hash(F.col(id_col)) % 10000
    expr = None
    acc = 0.0
    for name, w in weights.items():
        acc += w
        cond = bucket < int(round(acc * 10000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = list(weights)[-1]
    return docs.withColumn("split", expr.otherwise(last))


def domain_mix(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic weighted downsampling per domain/source: keep a
    doc iff det_hash(id) % 10000 < rate(source) * 10000.  One
    projection + filter — the sampling decision never shuffles, and
    re-runs are idempotent (same ids survive).
    """
    rate = None
    for src, r in rates.items():
        cond = F.col(source_col) == src
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = rate.otherwise(default_rate) if rate is not None else F.lit(default_rate)
    bucket = det_hash(F.col(id_col)) % 10000
    return docs.where(bucket < (rate * 10000).cast("long"))


# --------------------------------------------------------------------------
# sequence packing


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 2048,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each document a (shard, seq_id, offset) placement packing
    documents into fixed-token-budget training sequences.

    Docs are sharded by det_hash(id) % n_shards and packed in id order
    within the shard via an exclusive prefix sum: ``seq_id =
    floor(cumsum_before / max_tokens)`` — the "fluid" next-fit
    approximation in which a sequence can overflow by at most one
    document (exact next-fit is inherently sequential; the fluid form
    is the standard distributed relaxation, and the overflow is
    trimmed/truncated by the tokenizer stage downstream).

    One shuffle (by shard), one window per shard partition.  With
    n_shards ≈ cluster cores × small constant, each shard's window is
    an in-memory sort of corpus/n_shards rows — no global sort.
    """
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    sharded = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        (det_hash(F.col(id_col)) % n_shards).cast("bigint").alias("shard"),
        n_tok.cast("int").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # pure INTEGER arithmetic end-to-end (bigint DIV / %): no double
    # ever enters the plan, so no value-formatting ambiguity can reach
    # a downstream hasher
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return sharded.select(
        "doc_id",
        "shard",
        "n_tokens",
        before.alias("__bef"),
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"__bef DIV {int(max_tokens)}").cast("bigint").alias("seq_id"),
        (F.col("__bef") % max_tokens).cast("bigint").alias("offset"),
    )


# --------------------------------------------------------------------------
# exact-substring duplication (rolling-window approximation)


def substring_dedup_stats(
    docs: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication stats: every ``window``-token span
    is hashed; a span whose hash first occurred at an earlier
    (doc_id, pos) counts as duplicated text.  This is the shuffle-
    friendly relaxation of suffix-array substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    a suffix array finds *maximal* repeats, the rolling window finds
    all repeats of length >= window — same removal policy downstream.

    Plan shape at 100 TB: explode to one row per span (corpus x
    ~n_tokens skinny rows of (id, pos, 16-byte hash)), one shuffle on
    the uniform span hash for first-occurrence, one map-side-combinable
    agg back on doc_id.  No pairwise joins, no skew (hash keys are
    uniform by construction; a pathological repeated span caps at its
    occurrence count, not corpus size).

    Returns (doc_id, n_windows, n_dup, dup_frac) for every doc; docs
    shorter than ``window`` tokens report zeros.

    Window construction is ``posexplode`` over ``arrays_zip`` of
    ``window`` shifted slices + ``concat_ws`` — a NARROW, fully
    codegen'd map (r12 optimization round): the former ``posexplode``
    + ``lead(tok, k)`` window computed the same strings but paid a
    corpus-wide shuffle on (doc_id, pos) first.  (The ``transform``
    over ``slice``+``array_join`` array form also computes the same
    strings but higher-order lambdas run interpreted: measured 47 s
    -> ~3 s at sf1 for this stage — ``arrays_zip`` is the shape that
    is both narrow AND codegen.)  ``posexplode`` emits the 0-based
    window-start position, identical to the old token-table ``pos``.
    """
    from xcube_spark.util import spread_small_input

    spread = spread_small_input(docs)
    wins = _span_windows(spread, window, text_col, id_col)
    # first-occurrence via a window MIN over the span hash: ONE
    # exchange of the span table, versus groupBy+join's two (the agg
    # exchange plus re-shuffling wins into the join) — at 100 TB the
    # span table is the biggest relation in the query, so halving its
    # shuffles is the dominant saving.  Rendered as parsed SQL
    # strings (r12 session 4): the Catalyst tree is identical to the
    # former Column chain; only the py4j build traffic shrinks.
    marked = wins.selectExpr(
        id_col, "pos",
        f"min(struct({id_col} AS d, pos AS p)) "
        "OVER (PARTITION BY __h) AS __first",
    ).selectExpr(
        id_col,
        f"CAST(__first.d != {id_col} OR __first.p != pos AS INT) AS __dup",
    )
    per = marked.groupBy(id_col).agg(
        F.expr("count(1)").alias("n_windows"),
        F.expr("sum(__dup)").alias("n_dup"),
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .selectExpr(
            id_col,
            "CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows",
            "CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup",
            "round(coalesce(n_dup / n_windows, 0.0D), 6) AS dup_frac",
        )
    )


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum over a digit-string column (payment-card
    validation): sum from the RIGHT, doubling every second digit and
    folding >9 down by 9; valid iff the total is divisible by 10.

    One ``aggregate`` over a per-row digit array (bounded at 19
    digits, so the interpreted-HOF cost is negligible — the corpus
    hot-path rule targets unbounded arrays).  The fold is position-
    aware via a (sum, index) struct accumulator.
    """
    rev = F.reverse(digits)
    arr = F.transform(
        F.sequence(F.lit(1), F.length(rev)),
        lambda i: F.substring(rev, i, 1).cast("int"),
    )
    folded = F.aggregate(
        arr,
        F.struct(F.lit(0).alias("s"), F.lit(0).alias("i")),
        lambda acc, d: F.struct(
            (
                acc.s
                + F.when(acc.i % 2 == 1,
                         F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
                .otherwise(d)
            ).alias("s"),
            (acc.i + 1).alias("i"),
        ),
        lambda acc: acc.s,
    )
    return (F.length(digits) >= 13) & (folded % 10 == 0)


def detect_card_numbers(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Flag documents containing Luhn-valid 13-19 digit runs (the
    checksum kills ~90% of random digit-run false positives).  Pure
    projection: extract candidate runs with one regexp, validate each
    with the bounded Luhn fold, count survivors."""
    runs = F.regexp_extract_all(
        F.col(text_col), F.lit(r"\b[0-9]{13,19}\b"), 0
    )
    valid = F.filter(runs, luhn_valid)
    return docs.select(
        "doc_id",
        F.size(runs).alias("n_digit_runs"),
        F.size(valid).alias("n_card_numbers"),
        (F.size(valid) > 0).alias("has_card"),
    )


def substring_dedup_clean(
    docs: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove duplicated spans, keeping first occurrences — the
    removal stage of exact-substring dedup (Lee et al. 2021): every
    token covered by a window whose hash first occurred at an earlier
    (doc_id, pos) is dropped, and the document is rebuilt from the
    surviving tokens.

    Same plan skeleton as :func:`substring_dedup_stats` (codegen'd
    lead-window hashes, one uniform shuffle on the span hash) plus a
    coverage pass: a token at position p is covered iff some dup
    window starts in [p-window+1, p] — one MAX over a ROWS frame (the
    token table has every position, so ROWS == RANGE), then an
    order-preserving rebuild per doc.  Returns
    (doc_id, n_tokens_kept, text_clean) for every doc.
    """
    from pyspark.sql import Window as W

    from xcube_spark.util import spread_small_input

    # keyed spread (r13: comment corrected per ADVICE r12): the
    # (doc_id, pos) join and the doc-keyed coverage window below still
    # re-shuffle the token table — HashPartitioning(doc_id) does NOT
    # satisfy the join's (doc_id, pos) co-partitioning, so no exchange
    # is shared here.  The key is kept only because hash-spreading
    # skips round-robin's determinism sort over the raw docs.
    spread = spread_small_input(docs, key=id_col)
    toks_tbl = spread.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
        .alias("pos", "__tok"),
    )
    w = W.partitionBy(id_col).orderBy("pos")
    # span hashes via the narrow arrays_zip window form (see
    # substring_dedup_stats) — no (doc_id, pos) shuffle for the spans;
    # the token table still shuffles once for the coverage window
    wins = _span_windows(spread, window, text_col, id_col)
    # window-min over the span hash, not groupBy+join — one exchange
    # of the span table instead of two (see substring_dedup_stats)
    wh = W.partitionBy("__h")
    dup = (
        wins.withColumn(
            "__first",
            F.min(F.struct(F.col(id_col).alias("d"),
                           F.col("pos").alias("p"))).over(wh),
        )
        .where(
            (F.col("__first.d") != F.col(id_col))
            | (F.col("__first.p") != F.col("pos"))
        )
        .select(id_col, "pos", F.lit(1).alias("__fl"))
    )
    flagged = toks_tbl.join(dup, [id_col, "pos"], "left")
    cov = F.max(F.coalesce("__fl", F.lit(0))).over(
        w.rowsBetween(-(window - 1), 0)
    )
    kept = flagged.withColumn("__cov", cov).where(F.col("__cov") == 0)
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long")
            .alias("n_tokens_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


# --------------------------------------------------------------------------
# text normalization


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The standard pre-dedup text-cleaning stage: strip C0 controls
    (keeping \\t and \\n as whitespace), DEL, and the C1 range
    U+0080-U+009F, collapse every whitespace run to one space, trim,
    lowercase.  Returns the input
    columns with ``text_norm``, ``n_chars_raw``, ``n_chars_norm``
    appended.

    All three steps are JVM-side regexp/string built-ins inside one
    whole-stage-codegen'd projection — no UDF, no shuffle; at 100 TB
    this rides the scan like any other map stage.  The regex classes
    are chosen to evaluate identically under Java regex and RE2
    (plain character classes, no lookaround), so DuckDB oracles can
    state the same pipeline verbatim."""
    raw = F.col(text_col)
    stripped = F.regexp_replace(
        raw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]", "")
    norm = F.lower(F.trim(F.regexp_replace(stripped, "\\s+", " ")))
    return docs.withColumns({
        "text_norm": norm,
        "n_chars_raw": F.length(raw).cast("long"),
        "n_chars_norm": F.length(norm).cast("long"),
    })


def c4_line_filter(docs: DataFrame, text_col: str = "text",
                   min_words: int = 4) -> DataFrame:
    """C4-style line-level cleanup (Raffel et al. 2020 §2.2: the
    public heuristics behind the C4 corpus): keep only lines that
    have at least ``min_words`` words AND end in terminal punctuation
    (``. ! ? "``); rebuild the document from the kept lines.  Returns
    ``(doc_id, n_lines, n_kept, text_clean)``.

    Shape: posexplode lines -> codegen'd per-line predicate ->
    groupBy(doc_id) rebuild (sort_array over the collected
    (pos, line) structs keeps original order; the transform lambda is
    interpreted but runs on the post-aggregation per-doc array, not
    per line).  One doc_id shuffle — the same discipline as
    substring_dedup's window form; an F.filter lambda over the line
    array would avoid the shuffle but evaluates interpreted PER LINE
    (the round-6 CodegenFallback lesson)."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("pos", "line"),
    )
    trimmed = F.trim(F.col("line"))
    keep = (
        (F.size(F.split(trimmed, r"\s+")) >= min_words)
        & trimmed.rlike('[.!?"]$')
    )
    kept = lines.where(keep)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
    totals = docs.select(
        "doc_id",
        F.size(F.split(F.col(text_col), "\n")).cast("long")
        .alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id", "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 4096,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document log importance weight for DSIR-style data
    selection (Data Selection with Importance Resampling, Xie et al.
    2023): estimate hashed-unigram feature distributions for the
    TARGET domain (rows where ``target`` is true — e.g. a trusted
    high-quality source) and the RAW corpus, then score every document
    by the log-likelihood ratio

        log w(x) = sum_f c_f(x) * (ln p_target(f) - ln p_raw(f))

    with add-``alpha`` smoothing over ``n_buckets`` hashed buckets.
    Selecting the top-weighted documents resamples the raw corpus
    toward the target distribution — the standard pretraining
    data-selection recipe.  Returns (id, n_tokens, log_weight).

    Feature hashing is md5-based (first 3 hex nibbles, mod
    ``n_buckets``) like the dedup family, so the DuckDB oracle
    replays it bit-for-bit; ``n_buckets`` must be <= 4096.

    Scale shape: the corpus is tokenized and md5-hashed ONCE — the
    per-(doc, bucket) count table ``pre`` (Zipf makes it far smaller
    than the token stream) feeds BOTH the distribution estimate and
    the scoring sum, and its exchange is planned once and REUSED
    (ReusedExchange; plan-pinned in tests), so neither pass re-scans
    or re-hashes.  The bucket/llr tables are model-sized broadcasts;
    the per-doc sum is map-side combined.  No vocabulary table, no
    driver round-trip, no corpus join.
    """
    if n_buckets > 4096:
        raise ValueError("n_buckets must be <= 4096 (3 md5 nibbles)")
    from xcube_spark.util import spread_small_input

    # tokenize+md5 is per-row-heavy: spread a few-split scan across
    # the host (no-op at real scale where files outnumber cores)
    docs = spread_small_input(docs)
    toks = docs.select(
        F.col(id_col),
        target.alias("__tgt"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    feats = toks.select(
        id_col, "__tgt",
        (F.conv(F.substring(F.md5(F.col("token")), 1, 3), 16, 10)
         .cast("int") % n_buckets).alias("f"))
    # the featurized count table feeds BOTH the distribution estimate
    # (the counts collect below) and the scoring sum.  NOT persisted
    # (r12 optimization round): recomputing the narrow codegen
    # tokenize+md5 pass for the second consumer measured FASTER and
    # far more stable than caching it (sf0.1 medians 1.71-1.74 s with
    # 2-2.8 s GC outliers persisted vs 1.51-1.57 s recomputed — per-
    # invocation caches churn the old gen across repeated calls), and
    # at 100 TB a corpus x buckets cache would not fit storage anyway.
    pre = feats.groupBy(id_col, "__tgt", "f").agg(
        F.count("*").alias("c"))
    # one-pass distribution estimate (r12 optimization, guide §2.4
    # share one exchange): the bucket counts aggregate FROM ``pre``,
    # whose (id, tgt, f) exchange is textually identical to the one
    # feeding the scoring join below — ReuseExchange computes the
    # tokenize+md5+partial-agg pipeline ONCE and both consumers read
    # the shuffle files.  (The prior driver-fold shape collected the
    # distribution in a separate job that re-tokenized the whole
    # corpus: two full passes per invocation.  Interleaved A/B at
    # sf0.1: ~2.5x slower than this form.)  Totals ride a single-
    # partition window over the <= n_buckets count rows — model-sized
    # by construction, no corpus bytes, no BNLJ, no driver round trip.
    from pyspark.sql import Window
    counts = pre.groupBy("f").agg(
        F.sum("c").cast("long").alias("c_raw"),
        F.sum(F.when(F.col("__tgt"), F.col("c")).otherwise(F.lit(0)))
        .cast("long").alias("c_tgt"))
    w_all = Window.partitionBy()
    tot = counts.select(
        "f", "c_raw", "c_tgt",
        F.sum("c_raw").over(w_all).cast("long").alias("t_raw"),
        F.sum("c_tgt").over(w_all).cast("long").alias("t_tgt"))
    # identical float ops to the oracle: (BIGINT + 0.5) / (BIGINT +
    # alpha*n_buckets), ln, subtract — inputs are exact integers
    # either way, so no float boundary moves vs the driver-fold form
    llr = tot.select(
        "f",
        (F.log((F.col("c_tgt") + F.lit(alpha))
               / (F.col("t_tgt") + F.lit(alpha * n_buckets)))
         - F.log((F.col("c_raw") + F.lit(alpha))
                 / (F.col("t_raw") + F.lit(alpha * n_buckets))))
        .alias("llr"))
    result = (
        pre.join(F.broadcast(llr), "f")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_tokens"),
             F.round(F.sum(F.col("llr") * F.col("c")) + 1e-9, 6)
             .alias("log_weight"))
    )
    return result


def linear_probe(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-and-apply a 2-feature + intercept ordinary-least-squares
    probe in ONE logical plan: accumulate the normal-equation moments
    (X'X, X'y) as a single aggregate pass, solve the 3x3 system in
    closed form (Cramer) on the driver from the one-row moment table,
    and apply the coefficients as literals for per-row prediction —
    the "train a linear probe over the whole corpus in one scan" shape
    (quality regressors, filter calibration) that moves only nine
    numbers, never corpus-sized state, through the driver.

    Features and label must be INTEGER columns: every moment is then
    an exact BIGINT sum (order-independent, bit-identical on any
    engine), so the double-precision Cramer solve — identical op
    order in the SQL twin — is deterministic cross-engine.

    Returns (id, y, y_hat, resid) with raw doubles (round in the
    caller; Python round() is half-even, Spark/DuckDB ROUND is not).

    Scale shape: pass 1 is a map-side-combined aggregate to ONE row
    (each task emits 9 numbers); the driver collects that row and
    solves it (``probe_fit_predict``); pass 2 re-scans the input with
    the coefficients as literals.  100 TB cost = two scans, zero
    corpus shuffles.
    """
    m = probe_moments(df, y_col, x1_col, x2_col)
    return probe_fit_predict(m, df, y_col, x1_col, x2_col, id_col)


#: the nine normal-equation moments, in canonical column order
PROBE_MOMENT_COLS = ("n", "s1", "s2", "s11", "s12", "s22",
                     "sy", "s1y", "s2y")


def probe_moments(df: DataFrame, y_col: str, x1_col: str,
                  x2_col: str) -> DataFrame:
    """The probe's ONE-ROW training state: exact BIGINT sums of the
    normal-equation moments.  Sums are associative/commutative, so
    states from disjoint batches MERGE by addition into exactly the
    single-pass state (``probe_merge``) — incremental training over a
    growing corpus never re-reads old data and is value-identical to
    retraining from scratch."""
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)
    return df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x1).alias("s1"), F.sum(x2).alias("s2"),
        F.sum(x1 * x1).alias("s11"), F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(y).alias("sy"),
        F.sum(x1 * y).alias("s1y"), F.sum(x2 * y).alias("s2y"),
    )


def probe_merge(state: DataFrame, batch: DataFrame, y_col: str,
                x1_col: str, x2_col: str) -> DataFrame:
    """Fold a new batch into an existing moment state: O(batch) work
    plus a 2-row union aggregate — the exact-integer merge IS
    recomputation (the incremental contract the oracle checks)."""
    upd = probe_moments(batch, y_col, x1_col, x2_col)
    return state.unionByName(upd).agg(
        *[F.sum(c).alias(c) for c in PROBE_MOMENT_COLS])


def probe_fit_predict(state: DataFrame, df: DataFrame, y_col: str,
                      x1_col: str, x2_col: str,
                      id_col: str = "doc_id") -> DataFrame:
    """Closed-form 3x3 Cramer solve on the one-row moment state,
    computed DRIVER-SIDE (r13, the r11 driver-fold recipe): the state
    is 9 exact BIGINTs, the solve is pure binary64 +-*/ in the same
    operation order as the former Column expression — CPython and the
    JVM agree bit-for-bit on each individual IEEE op (neither
    FMA-contracts), so the coefficients are value-identical while the
    prediction pass loses its BroadcastNestedLoopJoin (the collect
    replaces the broadcast-build job the crossJoin paid anyway)."""
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)

    def det3(a, b, c, d, e, f, g, h, i):
        return (a * (e * i - f * h) - b * (d * i - f * g)
                + c * (d * h - e * g))

    rows = state.collect()
    vals = [rows[0][c] if rows else None for c in PROBE_MOMENT_COLS]
    if any(v is None for v in vals):
        # empty input or zero-row state: NULL coefficients
        b0 = b1 = b2 = None
    else:
        n, s1, s2, s11, s12, s22, sy, s1y, s2y = map(float, vals)
        det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
        if det == 0.0:
            # Spark's non-ANSI Divide returns NULL on a zero divisor
            b0 = b1 = b2 = None
        else:
            b0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22) / det
            b1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22) / det
            b2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y) / det
    lits = [F.lit(b).cast("double") if b is None else F.lit(b)
            for b in (b0, b1, b2)]
    pred = (
        df.withColumn(
            "y_hat",
            lits[0] + lits[1] * x1.cast("double")
            + lits[2] * x2.cast("double"))
        .withColumn("resid", y.cast("double") - F.col("y_hat"))
    )
    return pred.select(id_col, y.alias("y"), "y_hat", "resid")


def chunk_split(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the
    retrieval/embedding preprocessing stage (RAG chunking): window i
    covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the final window may be
    short, and every token of every document appears in at least one
    window.  Returns (id, chunk_idx, start_token, n_tokens,
    chunk_text).

    Scale shape: a pure narrow projection + explode — token arrays
    are sliced in place (``F.slice`` clamps at the end), no shuffle,
    no UDF; the fan-out per document is ceil(n/stride), bounded and
    known from the row itself.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col), toks.alias("__toks"),
        F.size(toks).alias("__n"))
    chunks = base.select(
        id_col,
        F.explode(F.sequence(
            F.lit(0), F.floor((F.col("__n") - 1) / stride).cast("int")
        )).alias("chunk_idx"),
        "__toks",
    ).withColumn(
        "__chunk",
        F.slice(F.col("__toks"),
                F.col("chunk_idx") * stride + 1, chunk_tokens))
    return chunks.select(
        id_col, "chunk_idx",
        (F.col("chunk_idx") * stride).cast("long").alias("start_token"),
        F.size("__chunk").cast("long").alias("n_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def contamination_matrix(
    docs: DataFrame,
    split_df: DataFrame | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_names: tuple | None = None,
) -> DataFrame:
    """Cross-split contamination matrix: for every ORDERED pair of
    splits (a, b), how many distinct word n-grams the two splits share
    and how many split-b documents carry at least one split-a n-gram —
    the audit a training pipeline runs after splitting to prove the
    eval sets are not leaked into train (and vice versa).  Exact
    duplicates scattered across splits by the id hash are precisely
    what this surfaces.

    Returns the full (a != b) pair grid:
    ``(split_a, split_b, n_shared_grams, n_docs_hit)`` — zero-filled,
    all integer counts.

    Scale shape: the split tag rides the n-gram explode (a pure map
    when the assignment is the id-hash default or a projection of the
    corpus — no doc-level join), then everything keys on the gram:
    ONE ``collect_set(split)`` aggregate per gram (sets are at most
    #splits long) drives both counts — shared grams explode ordered
    pairs out of the set (never a gram self-join), and contaminated
    docs join the gram table to the set table on the gram key once.
    Output is splits^2-sized.  No pairwise doc join anywhere.
    """
    if split_df is None:
        tagged = assign_split(docs, id_col=id_col)
    elif text_col in split_df.columns:
        # the assignment is a projection of the corpus itself
        # (assign_split output): no join needed, the tag is a column
        tagged = split_df
    else:
        tagged = docs.join(split_df.select(id_col, "split"), id_col)
    grams = ngrams(tagged, text_col, n, carry=("split",))

    # one gram-keyed aggregate: the set of splits each gram occurs in
    gs = grams.groupBy("ngram").agg(F.collect_set("split").alias("__ss"))

    shared = (
        gs.select(F.explode("__ss").alias("split_a"), "__ss")
        .select("split_a", F.explode("__ss").alias("split_b"))
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("__shared"))
    )
    hits = (
        grams.select(F.col("split").alias("split_b"), id_col, "ngram")
        .join(gs, "ngram")
        .select("split_b", id_col, F.explode("__ss").alias("split_a"))
        .where(F.col("split_a") != F.col("split_b"))
        .select("split_a", "split_b", id_col)
        .distinct()
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("__hit"))
    )
    if split_names is None and split_df is None:
        split_names = ("train", "val", "test")  # assign_split default
    if split_names is not None:
        # known assignment scheme: the splits^2 grid is a local
        # relation — no corpus distinct scan, no crossJoin
        grid = docs.sparkSession.createDataFrame(
            [(a, b) for a in split_names for b in split_names if a != b],
            "split_a STRING, split_b STRING")
    else:
        names = tagged.select("split").distinct()
        grid = (
            names.select(F.col("split").alias("split_a"))
            .crossJoin(names.select(F.col("split").alias("split_b")))
            .where(F.col("split_a") != F.col("split_b"))
        )
    return (
        grid.join(shared, ["split_a", "split_b"], "left")
        .join(hits, ["split_a", "split_b"], "left")
        .select(
            "split_a", "split_b",
            F.coalesce("__shared", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("__hit", F.lit(0)).alias("n_docs_hit"))
    )


def class_rebalance(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    per_class: int | None = None,
) -> DataFrame:
    """Deterministic per-class downsampling for classifier training
    sets: keep at most ``per_class`` documents of every label (default
    = the size of the smallest class, i.e. fully balanced), selected
    by md5-hash order so reruns and grown corpora keep the same picks
    for unchanged ids — no RNG, no ordering dependence.

    Returns ``(id, label, kept)`` for every input document.

    Scale shape: one hash-ranked window per label partition (L
    partitions; for skewed majority classes the per-partition sort is
    the cost — at 100 TB pre-filter with a sampled count threshold or
    accept the one sort, which is still a single shuffle).  The
    min-class cap rides the L-row per-label count table (broadcast
    equi-join on the label), never a driver round-trip.
    """
    from pyspark.sql import Window as W

    ranked = docs.select(
        F.col(id_col), F.col(label_col).alias("label"),
    ).withColumn(
        "__rk",
        F.row_number().over(
            W.partitionBy("label").orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col))),
    )
    if per_class is None:
        # r13: the min-class cap rides a single-partition window over
        # the MODEL-SIZED per-label count table (L rows) and joins
        # back on the label key — a BroadcastHashJoin instead of the
        # former one-row crossJoin's BroadcastNestedLoopJoin.  The cap
        # is an exact BIGINT either way; results are identical.
        counts = ranked.groupBy("label").agg(F.count("*").alias("__n"))
        # the join is null-safe: NULL labels form their own class and
        # their documents are returned like every other
        capped = counts.select(
            F.col("label").alias("__label"),
            F.min("__n").over(W.partitionBy()).alias("__cap"),
        )
        return ranked.join(
            F.broadcast(capped),
            ranked["label"].eqNullSafe(capped["__label"]),
        ).select(
            id_col, "label", (F.col("__rk") <= F.col("__cap")).alias("kept"))
    return ranked.select(
        id_col, "label", (F.col("__rk") <= per_class).alias("kept"))


def ngram_novelty(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word ``k``-shingles that appear FIRST in this document
    (first occurrence = corpus-wide ``min(doc_id)`` over the shingle).

    The data-selection primitive behind "keep documents that add new
    content": boilerplate and near-duplicates score near 0, fresh
    text scores near 1 — the corpus-level dual of the intra-document
    ``repetition_stats`` gate.

    Returns ``(id, n_shingles, n_novel, novelty)`` with the RAW
    double ratio (round in the caller).

    Scale shape: ONE exchange — first-occurrence attribution is a
    window ``MIN`` over the shingle hash partitioning (the round-5
    substring-dedup lesson: a window min replaces groupBy +
    join-back and its second shuffle), then the per-doc reduce is
    map-side combined.  Everything before the window is a narrow
    shingle explode.
    """
    from pyspark.sql.window import Window

    from xcube_spark.pipeline.dedup import shingles

    sh = shingles(docs, k=k, text_col=text_col, id_col=id_col)
    w = Window.partitionBy("shingle")
    attr = sh.withColumn("__first", F.min(id_col).over(w))
    per = attr.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.when(F.col("__first") == F.col(id_col), 1)
              .otherwise(0)).alias("n_novel"),
    )
    return per.withColumn(
        "novelty",
        F.col("n_novel").cast("double") / F.col("n_shingles"))


# --------------------------------------------------------------------------
# URL / domain-level curation
#
# The crawl-side curation stage every pretraining pipeline runs before
# any text filter: extract the host from each document's URL, reduce
# it to a registered domain (eTLD+1), drop blocklisted domains, and
# cap how many documents any single domain may contribute (domain
# balancing — a handful of boilerplate-heavy hosts otherwise dominate
# a crawl).  Reference has no URL stage (EO cubes have no URLs); the
# semantics follow the public C4/RefinedWeb/Gopher pipeline
# descriptions.

#: scheme://[userinfo@]HOST[:port]/... — group 1 is the host
_URL_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"

#: second-level labels that act like TLD extensions under a 2-letter
#: ccTLD ("co.uk", "com.br", ...) — a pragmatic subset of the public
#: suffix list; at 100 TB ship the full PSL as a broadcast table and
#: suffix-join instead (same plan shape as the DataFrame blocklist
#: path in :func:`domain_filter`)
_CC_SECOND_LEVEL = ("co", "com", "ac", "gov", "org", "net", "edu")


def url_host(url: Column) -> Column:
    """Lower-cased host part of a URL (empty string when the value
    doesn't parse as scheme://host...)."""
    return F.lower(F.regexp_extract(url, _URL_HOST_RE, 1))


def registered_domain(host: Column) -> Column:
    """eTLD+1 of a host: the last two labels, or the last three when
    the second-to-last is a known extension label under a 2-letter
    ccTLD ("a.b.src3.co.uk" -> "src3.co.uk", "www.src3.com" ->
    "src3.com").  Pure codegen string ops — no lambdas, no shuffle."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last = F.element_at(parts, -1)
    cc = (
        (n >= 3)
        & F.element_at(parts, -2).isin(*_CC_SECOND_LEVEL)
        & (F.length(last) == 2)
    )
    two = F.when(n >= 2,
                 F.concat_ws(".", F.element_at(parts, -2), last)
                 ).otherwise(host)
    return F.when(
        cc,
        F.concat_ws(".", F.element_at(parts, -3),
                    F.element_at(parts, -2), last)).otherwise(two)


def host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a host ("a.b.com" -> ["a.b.com", "b.com",
    "com"]) — the explode key for suffix-joining a host against a
    large blocklist/PSL table.  The transform lambda is interpreted
    (CodegenFallback), but it runs over <= ~6 labels per row and only
    on the DataFrame-blocklist path."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."))


def domain_filter(
    docs: DataFrame,
    blocklist,
    url_col: str = "url",
    allowlist=(),
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist filter on the URL host with standard suffix
    semantics: an entry matches a host when it equals the host or is
    a dot-suffix of it ("src3.com" blocks "www.src3.com"; a bare TLD
    entry blocks the whole TLD).  ``allowlist`` entries (same
    semantics) override blocks — the usual "block the domain, rescue
    one subdomain" shape.

    ``blocklist`` may be a small list/tuple of literals (compiled to
    a codegen'd equals/endswith chain — ZERO shuffles, the filter
    rides the scan) or a one-column DataFrame for big lists (host
    suffixes explode and LEFT SEMI join against the broadcast list —
    corpus rows stream map-side, one small aggregate back to ids).

    Returns the input plus ``host``, ``domain``, ``blocked``.
    """
    from functools import reduce
    from operator import or_

    out = docs.withColumn("host", url_host(F.col(url_col)))
    out = out.withColumn("domain", registered_domain(F.col("host")))

    def literal_match(entries) -> Column:
        return reduce(or_, [
            (F.col("host") == e) | F.col("host").endswith("." + e)
            for e in entries
        ])

    if isinstance(blocklist, DataFrame):
        bl_col = blocklist.columns[0]
        sfx = out.select(
            id_col, F.explode(host_suffixes(F.col("host"))).alias("__sfx"))
        hits = (
            sfx.join(
                F.broadcast(
                    blocklist.select(F.col(bl_col).alias("__sfx"))),
                "__sfx", "left_semi")
            .select(id_col).distinct()
            .withColumn("__hit", F.lit(True))
        )
        out = (
            out.join(hits, id_col, "left")
            .withColumn("blocked", F.coalesce("__hit", F.lit(False)))
            .drop("__hit")
        )
    else:
        out = out.withColumn(
            "blocked",
            literal_match(blocklist) if len(blocklist) else F.lit(False))
    if len(allowlist):
        out = out.withColumn(
            "blocked", F.col("blocked") & ~literal_match(allowlist))
    return out


def domain_caps(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` documents of any
    registered domain, picked by deterministic md5-hash order so
    reruns and grown corpora keep the same picks for unchanged ids
    (the :func:`class_rebalance` recipe keyed by eTLD+1 instead of a
    label column — domain balancing for crawl corpora).

    Returns ``(id, domain, kept)`` for every input document.

    Scale shape: ONE hash exchange on ``domain`` + a per-partition
    ranked window; mega-domains make that partition the straggler —
    at 100 TB pre-aggregate per-domain counts and only window the
    domains over the cap, or accept the one sort (still one shuffle).
    """
    from pyspark.sql import Window as W

    ranked = docs.select(
        F.col(id_col),
        registered_domain(url_host(F.col(url_col))).alias("domain"),
    ).withColumn(
        "__rk",
        F.row_number().over(
            W.partitionBy("domain").orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col))),
    )
    return ranked.select(
        id_col, "domain", (F.col("__rk") <= cap).alias("kept"))


#: full URL split: scheme, host, port, path, query (fragment dropped).
#: IPv6 bracket hosts are out of scope (the host class excludes ':').
_URL_PARTS_RE = ("^([a-zA-Z][a-zA-Z0-9+.-]*)://(?:[^/@]*@)?([^/:?#]+)"
                 "(?::([0-9]+))?([^?#]*)(?:\\?([^#]*))?(?:#.*)?$")

#: tracking parameters every crawl canonicalizer strips (the AdWords/
#: Facebook/Mailchimp click-id family + utm_*)
_TRACKING_PARAM_RE = "^(utm_[a-z0-9]+|gclid|fbclid|ref|mc_cid|mc_eid)="


def canonicalize_url(url: Column) -> Column:
    """Crawl-dedup URL canonical form:

    - scheme and host lower-cased, one leading ``www.`` stripped;
    - default ports dropped (http:80, https:443), others kept;
    - trailing slashes stripped from the path (bare path -> ``/``);
    - tracking params (``utm_*``, gclid, fbclid, ref, mc_cid, mc_eid)
      removed and the remaining query params SORTED (param order is
      not content identity);
    - the fragment dropped.

    NULL for strings that don't parse as scheme://host... (callers
    keep unparseables rather than grouping them).  All codegen string
    ops except the param filter/sort lambdas, which run over
    query-param-count-sized arrays.
    """
    scheme = F.lower(F.regexp_extract(url, _URL_PARTS_RE, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, _URL_PARTS_RE, 2)),
        "^www\\.", "")
    port = F.regexp_extract(url, _URL_PARTS_RE, 3)
    path = F.regexp_extract(url, _URL_PARTS_RE, 4)
    query = F.regexp_extract(url, _URL_PARTS_RE, 5)

    canon_port = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    stripped = F.regexp_replace(path, "/+$", "")
    canon_path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    kept_params = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE)))
    canon_q = F.when(
        F.size(kept_params) > 0,
        F.concat(F.lit("?"), F.array_join(kept_params, "&"))
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, canon_port,
                     canon_path, canon_q)
    return F.when(host != "", canon)


def url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level exact dedup: keep the lowest-id document per
    CANONICAL url (the crawl stage before any content dedup — the
    same page refetched with tracking params, fragments, www/port
    spellings or param reorderings is one document).  Unparseable
    URLs (NULL canonical) are always kept.

    Returns the input ids plus ``canon_url`` and ``kept``.

    Scale shape: ONE map-side-combined min aggregate on the canonical
    url + a broadcast-eligible equi-join back on (canon, first) —
    the exact_dedup_map recipe keyed by canonical URL.
    """
    canon = docs.select(
        F.col(id_col),
        canonicalize_url(F.col(url_col)).alias("canon_url"))
    first = canon.where(F.col("canon_url").isNotNull()) \
        .groupBy("canon_url").agg(F.min(id_col).alias("__first"))
    return (
        canon.join(first, "canon_url", "left")
        .select(
            id_col, "canon_url",
            (F.col("canon_url").isNull()
             | (F.col(id_col) == F.col("__first"))).alias("kept"))
    )


def domain_caps_state(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Compact per-domain state for :func:`incremental_domain_caps`:
    ``(domain, n_kept)`` — how many slots each registered domain has
    already consumed under :func:`domain_caps`.  Model-sized (one row
    per domain)."""
    kept = domain_caps(docs, cap, url_col=url_col, id_col=id_col)
    return kept.where(F.col("kept")).groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"))


def incremental_domain_caps(
    state: DataFrame,
    batch: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply per-domain caps to a NEW batch against accumulated state
    WITHOUT rescanning the old corpus — the arrival-priority contract
    (docs already shipped to training cannot be unshipped): a new doc
    is kept only while its domain still has free slots, slots filled
    in the same deterministic md5 order within the batch.

    Returns ``(id, domain, kept)`` for the batch rows.  Chain batches
    by adding the kept counts back into the state (integer addition —
    associative across batches, so replaying a batch stream gives
    exactly the sequential result).

    Unlike the dedup family this is NOT merge == recompute: caps are
    order-dependent by design, and the gate's oracle replays the SAME
    two-phase sequence rather than a single-pass recompute.

    Scale shape: one window on the batch (batch-sized) + a broadcast-
    eligible join against the model-sized state.
    """
    from pyspark.sql import Window as W

    ranked = batch.select(
        F.col(id_col),
        registered_domain(url_host(F.col(url_col))).alias("domain"),
    ).withColumn(
        "__rk",
        F.row_number().over(
            W.partitionBy("domain").orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col))),
    )
    st = state.select("domain", F.col("n_kept").alias("__prior"))
    return (
        ranked.join(st, "domain", "left")
        .select(
            id_col, "domain",
            (F.col("__rk")
             <= F.lit(cap) - F.coalesce("__prior", F.lit(0)))
            .alias("kept"))
    )
