"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart (xcube is a raster engine); these are the
driver-mandated LLM-pipeline extensions, designed Spark-first for the
100 TB case:

- **exact_dedup** — hash-groupBy on normalized content; one shuffle on
  a short digest key, skew-free by construction (md5 is uniform).
- **minhash LSH** — shingle -> minhash signature -> band -> bucket
  join.  The self-join happens only *within* band buckets, so the
  quadratic blow-up is bounded by bucket size; band keys are digests
  (uniform) and candidate verification touches only candidate pairs.
- **simhash** — 64-bit fingerprint from token hashes; near-dups have
  small Hamming distance; bucketing on bit-chunks gives the scalable
  candidate generation.
- **embedding near-dup** — cosine-over-threshold pairs via LSH-style
  bucketing (see similarity.py) or brute force for small sides.

Determinism contract: all hashing is md5-based (not Spark's murmur) so
every step is reproducible cross-engine — the DuckDB oracle in
queries/text_pipeline.py runs the *same* pipeline in SQL.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Default skew guard for LSH bucket self-joins: buckets with more
#: members than this are dropped before pairing.  A bucket of n docs
#: fans out n*(n-1)/2 pairs, so one pathological bucket (boilerplate,
#: empty strings, template spam) can dominate the whole job; docs in
#: such buckets are near-certain duplicates of *something* and are
#: better handled by the exact-dedup pass.  Mirrored verbatim in the
#: DuckDB oracle SQL so results stay hash-identical cross-engine.
DEFAULT_MAX_BUCKET_SIZE = 1000


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket_size: int | None) -> DataFrame:
    """Drop rows in over-sized buckets.  The window shuffle partitions
    by the bucket key — the same key the subsequent self-join uses, so
    the exchange is reused, not added."""
    if max_bucket_size is None:
        return df
    return (
        df.withColumn("_bn", F.expr(
            f"count(1) OVER (PARTITION BY {', '.join(keys)})"))
        .where(F.expr(f"_bn <= {max_bucket_size}"))
        .drop("_bn")
    )


def tokenize(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokenization with positions -> (id, pos, tok).
    posexplode is a generator projection: narrow, no shuffle."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )


def shingles(docs: DataFrame, k: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word k-shingles per document -> (id, shingle).

    Documents with fewer than ``k`` tokens emit NO rows (no truncated
    partial shingle): every SQL twin derives shingles from pos+1 ..
    pos+k-1 self-joins, which produce nothing for short docs, and a
    sub-k fragment is not a k-shingle — it would collide with genuine
    k-shingles of longer docs under the same hash."""
    toks = f"split({text_col}, ' ')"
    # explode amplifies rows ~tokens-per-doc x, so input-byte-based
    # file splitting underestimates the work: spread docs across the
    # cluster BEFORE the fan-out (a small shuffle of raw docs buys
    # full-width parallelism for the shingle/hash stages).  Spread BY
    # THE DOC ID, not round-robin (r12 optimization round, guide §2.4
    # "share one exchange"): Generate preserves the child's hash
    # partitioning, so the signature aggregate's ClusteredDistribution
    # (groupBy doc_id) is already satisfied and its corpus-wide
    # exchange + final-merge wave disappear — the whole shingle ->
    # signature pipeline runs in ONE stage.  doc ids hash uniformly
    # (no skew), and hash partitioning also skips round-robin's
    # determinism sort (sortBeforeRepartition) over the raw docs.
    spread = (
        docs.where(F.expr(f"size({toks}) >= {k}"))
        .repartition(docs.sparkSession.sparkContext.defaultParallelism,
                     F.col(id_col))
    )
    # k-window construction as arrays_zip of k shifted slices —
    # whole-stage-codegen'd end to end; the former transform(sequence,
    # i -> concat_ws(element_at...)) lambda evaluated interpreted
    # (CodegenFallback kicks the whole projection out of codegen) and
    # measured 2-30x slower with multi-second GC jitter at sf1 (r12
    # optimization round, guide §4.1).  Tokens contain no spaces
    # (they ARE space-split), so distinct (token, ...) k-tuples map
    # 1:1 to distinct space-joined shingle strings — array_distinct
    # on the struct array dedups within the doc exactly like the old
    # string-level array_distinct, and the exploded (id, shingle)
    # rows stay unique by construction (no distinct shuffle).
    # Rendered as parsed SQL strings (r12): the Column form was ~120
    # py4j round trips per plan build; SQL-parsed arrays_zip names its
    # struct fields by position ('0', '1', ...), internal only.
    m = f"(size({toks}) - {k - 1})"
    zipped = ("arrays_zip(" + ", ".join(
        f"slice({toks}, {j + 1}, {m})" for j in range(k)) + ")")
    return (
        spread.selectExpr(
            id_col,
            f"explode(array_distinct({zipped})) AS __p")
        .selectExpr(
            id_col,
            "concat_ws(' ', "
            + ", ".join(f"__p['{j}']" for j in range(k))
            + ") AS shingle")
        .where(F.expr("length(shingle) > 0"))
    )


def minhash_signature(
    shingle_df: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature as ``num_hashes`` lexicographic-min md5 digests.

    min(md5(shingle || '#' || seed)) is an order-statistic sketch of the
    shingle set — identical estimator to integer minhash, but exactly
    reproducible in any engine with md5.  One groupBy shuffle keyed by
    doc id; all hashes computed map-side in a single projection.
    """
    aggs = [
        F.expr(f"min(md5(concat_ws('#', shingle, '{j}')))").alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return shingle_df.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, num_bands: int, id_col: str = "doc_id") -> DataFrame:
    """Fold the signature into band digests -> (id, band, band_key)."""
    hash_cols = [c for c in sig.columns if c != id_col]
    rows_per_band = len(hash_cols) // num_bands
    assert rows_per_band * num_bands == len(hash_cols)
    bands = []
    for b in range(num_bands):
        cols = hash_cols[b * rows_per_band: (b + 1) * rows_per_band]
        bands.append(f"struct({b} AS band, "
                     f"md5(concat_ws('|', {', '.join(cols)})) AS band_key)")
    return sig.selectExpr(
        id_col, f"explode(array({', '.join(bands)})) AS bk"
    ).selectExpr(id_col, "bk.band AS band", "bk.band_key AS band_key")


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct candidate pairs from band-bucket collisions.

    The equi-join on (band, band_key) co-partitions both sides; bucket
    sizes bound the pair fan-out, and the skew guard drops monster
    buckets before pairing.  No broadcast hint: the band table is
    O(corpus x bands), so a forced broadcast would OOM at scale —
    this is a plain shuffle join, and AQE still picks broadcast at
    runtime when the side actually fits.
    """
    capped = _cap_buckets(bands_df, ["band", "band_key"], max_bucket_size)
    a = capped.selectExpr(f"{id_col} AS id_a", "band", "band_key")
    b = capped.selectExpr(f"{id_col} AS id_b", "band", "band_key")
    return (
        a.join(b, on=["band", "band_key"])
        .where(F.expr("id_a < id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    shingle_df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs only.

    The candidate set is small by construction, so: semi-join the
    shingle table down to candidate docs, pack each survivor's shingles
    into one array row, then join the pair list against two array
    columns and intersect.  The full shingle table is scanned once and
    shuffled only for the per-candidate-doc pack — the expensive exact
    measure never touches the non-candidate corpus.

    No broadcast hints: the candidate-id list and especially the packed
    shingle arrays (MBs per row for long docs) grow with the corpus, so
    a forced broadcast is an OOM at scale.  These are equi-joins on doc
    ids — AQE broadcasts at runtime iff the built side actually fits.
    """
    # NO distinct on the candidate ids (r13): they only feed the
    # LEFT-SEMI join below, whose build side hash-dedups keys anyway —
    # the distinct bought nothing but one more exchange wave.
    cand_ids = (
        pairs.selectExpr(f"id_a AS {id_col}")
        .union(pairs.selectExpr(f"id_b AS {id_col}"))
    )
    packed = (
        shingle_df.join(cand_ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.expr("collect_list(shingle)").alias("sh"))
    )
    pa = packed.selectExpr(f"{id_col} AS id_a", "sh AS sh_a")
    pb = packed.selectExpr(f"{id_col} AS id_b", "sh AS sh_b")
    inter = "size(array_intersect(sh_a, sh_b))"
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .selectExpr(
            "id_a", "id_b",
            f"{inter} / (size(sh_a) + size(sh_b) - {inter}) AS jaccard")
    )


#: in-memory shingle-cache bytes per compressed text byte (measured:
#: sf1 text column stats ~2.0 MB parquet -> 2.65M shingle rows
#: ~120 MB columnar cache)
_SHINGLE_EXPANSION = 60

#: below this cache size a persist LOSES: its fixed overhead
#: (persist/unpersist bookkeeping + cache-churn GC in the tiny-task
#: regime) exceeds the one saved recompute (interleaved A/B, r12:
#: sf0.1 ~12 MB cache -> persisted 3.0 s vs recomputed 2.5 s; sf1
#: ~120 MB cache -> persisted 7.8 s vs recomputed 10.9 s)
_SHINGLE_PERSIST_FLOOR = 32 * 1024 * 1024


def _shingle_cache_budget(spark) -> int:
    """Storage budget for a per-invocation shingle cache: a quarter of
    the executor (local: driver) heap.  Past it, recomputing the
    narrow codegen shingle map beats evicting everything else — and at
    100 TB the estimate is always past it, so the pipeline degrades to
    the two-narrow-scans shape that needs no cache at all."""
    mem = (spark.conf.get("spark.executor.memory", None)
           or spark.conf.get("spark.driver.memory", None) or "1g")
    from xcube_spark.util import _parse_byte_size
    return _parse_byte_size(mem) // 4


def minhash_near_dup_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    num_bands: int = 2,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> signature -> band
    -> bucket join -> exact-Jaccard verify -> threshold.

    Materialization strategy (re-measured r12 optimization round, now
    that the shingle map is narrow codegen; r13 made it LAZY): ``cands``
    — the small candidate table where the whole sig/band/bucket-join
    lineage converges — is a lazy localCheckpoint (the incremental_
    near_dedup lineage lesson): it truncates the signature pipeline out
    of every downstream plan, the three verify-side references share
    one checkpointed RDD (the pipeline runs once), and the candidates
    materialize inside the verify action rather than as a separate
    synchronous job wave (r13: the eager build job was both ~0.3 s of
    wall and the row's variance source).  The
    shingle table is consumed exactly twice (the signature pass at
    checkpoint time, the verify pack at execution); whether to persist
    it between the two is SIZE-ADAPTIVE, the guide §5 caching rule
    made explicit: persist only when the estimated columnar cache is
    big enough that one saved recompute beats the persist's fixed
    overhead (floor: measured, see _SHINGLE_PERSIST_FLOOR) AND small
    enough to fit a heap-derived budget — so tiny corpora recompute
    (sf0.1: 2.5 s vs 3.0 s persisted), mid-size corpora cache (sf1:
    7.8 s vs 10.9 s recomputed), and at 100 TB the estimate always
    exceeds the budget, leaving the scale-stable two-narrow-scans
    shape with no cache at all."""
    sh = shingles(docs, k=k, text_col=text_col, id_col=id_col)
    persist_sh = False
    try:
        txt_bytes = int(docs.select(text_col)._jdf.queryExecution()
                        .optimizedPlan().stats().sizeInBytes())
        est_cache = txt_bytes * _SHINGLE_EXPANSION
        persist_sh = (_SHINGLE_PERSIST_FLOOR <= est_cache
                      <= _shingle_cache_budget(docs.sparkSession))
    except Exception:
        pass  # estimation failure -> recompute (the scale-safe default)
    if persist_sh:
        sh = sh.persist()
    sig = minhash_signature(sh, num_hashes=num_hashes, id_col=id_col)
    # LAZY localCheckpoint (r13): the plan is truncated immediately (all
    # three verify-side references share ONE checkpointed RDD, so the
    # signature pipeline still runs once), but materialization happens
    # inside the verify action instead of as a separate synchronous job
    # wave.  Interleaved A/B at sf0.1: eager 1.79 s vs lazy(+no-distinct)
    # 1.52 s median, and the eager build job was the row's variance
    # source (max 7.9 s vs 2.0 s across the same sweep); sf1 neutral-to-
    # better under host noise (15.1 vs 13.9 medians).
    cands = lsh_candidate_pairs(
        lsh_bands(sig, num_bands, id_col=id_col), id_col=id_col,
        max_bucket_size=max_bucket_size,
    ).localCheckpoint(eager=False)
    result = jaccard_verify(sh, cands, id_col=id_col).where(
        F.col("jaccard") >= threshold
    )
    if persist_sh:
        from xcube_spark.util import tie_cache_lifetime
        tie_cache_lifetime(result, sh)
    return result


def _block_hashes(docs: DataFrame, block_tokens: int, text_col: str,
                  id_col: str) -> DataFrame:
    """(id, bidx, __h): md5 of each consecutive ``block_tokens``-token
    block — the shared narrow explode under the block-dedup family."""
    bt = int(block_tokens)
    blocks = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"CASE WHEN size(split(trim({text_col}), '\\\\s+')) >= 1 "
            f"THEN transform("
            f"sequence(0, int(ceil(size(split(trim({text_col}), "
            f"'\\\\s+')) / {bt}.0)) - 1), "
            f"i -> array_join(slice(split(trim({text_col}), '\\\\s+'), "
            f"i * {bt} + 1, {bt}), ' ')) "
            f"ELSE array() END"
        )).alias("bidx", "block"),
    ).where(F.col("block") != "")
    return blocks.select(id_col, "bidx", F.md5("block").alias("__h"))


def block_dedup_state(
    docs: DataFrame,
    block_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The block-dedup family's MERGEABLE sufficient statistics: one
    row per distinct block hash carrying its first occurrence
    (lexicographic min of (doc id, block index)) and its copy count —
    ``(block_hash, first_doc, first_idx, n_copies)``.

    Struct-min and integer addition are associative and commutative,
    so states from disjoint batches merge (:func:`incremental_block_
    dedup`) into exactly the single-pass state — the incremental
    contract of the sketch/probe family, at the paragraph-dedup
    granularity.  One map-side-combined shuffle on the uniform hash.
    """
    h = _block_hashes(docs, block_tokens, text_col, id_col)
    agg = h.groupBy(F.col("__h").alias("block_hash")).agg(
        F.min(F.struct(F.col(id_col), F.col("bidx"))).alias("__f"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )
    return agg.select(
        "block_hash",
        F.col("__f")[id_col].alias("first_doc"),
        F.col("__f")["bidx"].alias("first_idx"),
        "n_copies")


def incremental_block_dedup(
    state: DataFrame,
    new_docs: DataFrame,
    block_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a new document batch into a block-dedup state: the batch
    hashes once (one scan of the batch only) and full-outer merges
    with the state on the block hash — first occurrence is the struct
    min across both sides, copy counts add.  Value-identical to
    rebuilding the state over the concatenated corpus.

    Scale: per batch, O(batch) explode + shuffle plus a state join on
    the hash key; persist the state bucketed by hash and the merge is
    co-partitioned (the NearDupStateStore discipline)."""
    delta = block_dedup_state(new_docs, block_tokens=block_tokens,
                              text_col=text_col, id_col=id_col).select(
        "block_hash",
        F.col("first_doc").alias("__nd"),
        F.col("first_idx").alias("__ni"),
        F.col("n_copies").alias("__nc"),
    )
    sa = F.when(F.col("first_doc").isNotNull(),
                F.struct(F.col("first_doc").alias("d"),
                         F.col("first_idx").alias("i")))
    sb = F.when(F.col("__nd").isNotNull(),
                F.struct(F.col("__nd").alias("d"),
                         F.col("__ni").alias("i")))
    first = F.least(F.coalesce(sa, sb), F.coalesce(sb, sa))
    return (
        state.join(delta, "block_hash", "full_outer")
        .select(
            "block_hash",
            first["d"].alias("first_doc"),
            first["i"].alias("first_idx"),
            (F.coalesce("n_copies", F.lit(0))
             + F.coalesce("__nc", F.lit(0))).cast("long")
            .alias("n_copies"))
    )


def block_dedup_stats(
    docs: DataFrame,
    block_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph/block-level exact dedup statistics: split every
    document into consecutive ``block_tokens``-token blocks (the
    paragraph analog for corpora without structural markup — the
    RefinedWeb/FineWeb-style dedup granularity between whole-document
    exact dedup and character-span substring dedup), md5 each block,
    and attribute every block to its corpus-wide FIRST occurrence
    (lexicographic min of (doc id, block index) over the block hash).
    A block is duplicated iff an earlier block — earlier doc, or an
    earlier position in the same doc — carries the same hash.

    Returns ``(id, n_blocks, n_dup_blocks, dup_fraction)`` with the
    RAW double fraction (round in the caller).

    Scale shape: the block explode is a narrow map (~1/16 of token
    count); first-occurrence attribution is ONE window MIN over the
    block-hash partitioning (the substring-dedup lesson: a window min
    replaces groupBy + join-back and its second shuffle); the per-doc
    reduce is map-side combined.  Two exchanges total, both on
    uniform md5 keys — skew-free by construction.
    """
    from pyspark.sql.window import Window

    h = _block_hashes(docs, block_tokens, text_col, id_col)
    w = Window.partitionBy("__h")
    first = F.min(F.struct(F.col(id_col), F.col("bidx"))).over(w)
    dup = (
        (first[id_col] != F.col(id_col))
        | (first["bidx"] != F.col("bidx"))
    ).cast("int")
    per = h.select(F.col(id_col), dup.alias("__d")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("__d").cast("long").alias("n_dup_blocks"),
    )
    return per.withColumn(
        "dup_fraction",
        F.col("n_dup_blocks").cast("double") / F.col("n_blocks"))


def exact_dedup_map(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup: map every doc to the canonical (min-id) doc with the
    same content digest -> (id, digest, canonical_id, group_size).

    Window form, not groupBy+join-back: both need one shuffle on the
    digest, but the join form evaluates the normalize+md5 projection
    over the raw text TWICE (once per join side) — at corpus scale the
    text scan dominates, so halving it roughly halves the query."""
    content = F.col(text_col)
    if normalize:
        content = F.lower(F.regexp_replace(F.trim(content), r"\s+", " "))
    h = docs.select(F.col(id_col), F.md5(content).alias("digest"))
    w = Window.partitionBy("digest")
    return h.select(
        id_col, "digest",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def near_dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (doc_id, cluster_id) where
    cluster_id is the minimum doc id of the connected component.

    This is the step an actual dedup pipeline needs after candidate
    pairs — "keep one canonical doc per near-dup group" requires the
    transitive closure, not the pair list (A~B, B~C must collapse to
    one cluster even though A~C was never emitted).

    Algorithm: hash-to-min label propagation — each iteration every
    node takes the min label among itself and its neighbors (one
    equi-join + one partial-agg shuffle per round, both keyed by node
    id), converging in O(component diameter) rounds.  Near-dup
    components are shallow (dup clusters, not social graphs), so 3-5
    rounds is typical; the iteration cap bounds pathological chains.
    This is the standard scalable connected-components shape — no
    driver-side graph, no per-row Python.

    Convergence detection costs one SCALAR aggregate on the round's
    own result — labels only ever decrease, so the label sum is
    strictly monotone and "sum unchanged == fixpoint"; the previous
    implementation's extra equi-join against the prior labels (a
    whole second job per round) is gone.

    Lineage is TRUNCATED each round with ``localCheckpoint(eager=True)``
    rather than persist(): persist caches *execution* but the analyzed
    plan still nests the prior round's plan twice (once via labels,
    once via neighbor_min), so plan size doubled per round — on deep
    components Catalyst re-analyzes a 2^N-node tree every iteration,
    a driver-side bottleneck at scale.  localCheckpoint materializes
    the round AND replaces the plan with an O(1) scan of the cached
    blocks, so per-round analysis cost is flat regardless of depth.
    """
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # type-agnostic fingerprint: xxhash64 of the label (ids may be
    # strings, e.g. digest keys), summed exactly in decimal(38,0).
    # Labels are per-node monotone non-increasing, so ANY change
    # changes the label multiset, and thus this sum (up to a ~2^-64
    # hash-sum collision — negligible against max_iterations rounds)
    label_sum = F.sum(
        F.xxhash64(F.col("label").cast("string")).cast("decimal(38,0)"))
    prev_sum = None
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .select(F.col("a").alias("node"), "label")
        )
        new_labels = (
            labels.select("node", "label").union(neighbor_min)
            .groupBy("node").agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)  # materialize + truncate lineage
        )
        # the checkpoint above already ran the round's job; the
        # convergence scalar is a cheap agg over the cached blocks
        s = new_labels.agg(label_sum).collect()[0][0]
        labels = new_labels
        if prev_sum is not None and s == prev_sum:
            break
        prev_sum = s
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def dedup_keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter the corpus to one canonical doc per near-dup cluster:
    drop every clustered doc except the cluster's min-id member
    (unclustered docs pass through untouched) — the apply step of the
    dedup pipeline.  One left join on the (small) cluster map."""
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")) \
        .select(F.col("doc_id").alias(id_col))
    return docs.join(drop, id_col, "left_anti")


def simhash(docs: DataFrame, bits: int = 64, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash from md5 token digests -> (id, simhash BIGINT).

    Every token occurrence contributes +1/-1 per bit position (bit
    taken from the token's md5) — the frequency-weighted Charikar
    variant, which also avoids a distinct shuffle: the token stream
    flows straight from the explode into the vote aggregation.
    Pure built-ins — no Python UDF in the path.
    """
    # spread BY DOC ID (not round-robin): the explode preserves the
    # hash partitioning, so the vote aggregate's groupBy(doc_id) rides
    # the same exchange — one stage from docs to signatures, and no
    # round-robin determinism sort (r12 optimization round, guide §2.4)
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    toks = (
        spread.selectExpr(
            id_col, f"explode(split({text_col}, ' ')) AS tok")
        .where(F.expr("length(tok) > 0"))
        # decode the 16 leading hex chars ONCE into two 32-bit words;
        # every per-bit vote below is then a shift+mask, not a substring
        # + base-16 parse (64x fewer conv calls per token).  Parsed SQL
        # strings end to end (r12) — the Column chain cost ~700 py4j
        # round trips per plan build.
        .selectExpr(
            id_col, "tok", "md5(tok) AS h",
            "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
            " AS w0",
            "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT)"
            " AS w1")
    )
    # fingerprint bit i (nibble n = i//4, nibble-bit b = i%4) is set iff
    # set-bit votes outnumber clear-bit votes: sum(bit)*2 > count.
    # Hex char n is the HIGH nibble of its word, so nibble n of word w
    # sits at shift 28-4*(n%8), and bit b of that nibble at +b.
    #
    # SWAR-packed votes: 3 bit counters per 64-bit aggregate at 21-bit
    # lanes (shifts 0/21/42), so 64 bits need ceil(64/3)=22 sum buffers
    # + count instead of 65 — Spark's hash aggregate carries one buffer
    # slot per aggregate expression, and 65 slots dominated the r5
    # profile (2.1x DuckDB at sf1).  A 21-bit lane holds 2^21-1 ≈ 2.1M
    # token votes per doc before overflow (far beyond any real doc; a
    # 100 TB corpus caps doc length well below that at ingest).
    # All expressions are built as parsed SQL strings: constructing
    # them as nested Column calls costs hundreds of driver round-trips
    # per plan build (measured ~2.5s of pure plan construction).
    def bit_sql(i: int) -> str:
        n, b = i // 4, i % 4
        w = "w0" if n < 8 else "w1"
        return f"(shiftright({w}, {28 - 4 * (n % 8) + b}) & 1)"

    lanes = [list(range(j, min(j + 3, bits))) for j in range(0, bits, 3)]
    aggs = [
        F.expr(
            "sum("
            + " + ".join(
                bit_sql(i) if k == 0 else f"shiftleft({bit_sql(i)}, {21 * k})"
                for k, i in enumerate(group)
            )
            + f") as p{j}"
        )
        for j, group in enumerate(lanes)
    ]
    aggs.append(F.expr("count(*) as cnt"))
    sig = toks.groupBy(id_col).agg(*aggs)

    def vote_sql(i: int) -> str:
        j, k = i // 3, i % 3
        return f"(shiftright(p{j}, {21 * k}) & {(1 << 21) - 1})"

    acc_sql = " + ".join(
        f"(CASE WHEN {vote_sql(i)} * 2 > cnt"
        f" THEN {(1 << i) if i < 63 else -(1 << 63)}L ELSE 0L END)"
        for i in range(bits)
    )
    # enforce the lane bound instead of assuming it: a doc with
    # >= 2^21 token occurrences would silently bleed votes into the
    # neighboring lane, corrupting the signature — fail loudly instead
    # (one comparison per doc, nothing per token).
    lane_max = (1 << 21) - 1
    acc_sql = (
        f"CASE WHEN cnt <= {lane_max} THEN ({acc_sql}) "
        f"ELSE CAST(raise_error(CONCAT('simhash: document ', {id_col}, "
        f"' has ', cnt, ' token occurrences; the 21-bit SWAR vote "
        f"lanes hold at most {lane_max} — pre-truncate the document')) "
        f"AS BIGINT) END"
    )
    return sig.select(F.col(id_col), F.expr(acc_sql).alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = 8, text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """SimHash near-dups: bucket on 16-bit chunks (pigeonhole: any pair
    within Hamming distance <= 3*chunks/4 collides on some chunk; with
    4 chunks and d<=8 most near-dups collide), verify exact Hamming.

    The signature table feeds both sides of the bucket self-join, so
    persist it — the vote aggregation runs once, not twice.  The chunk
    table is O(corpus x 4), so no broadcast hint (AQE decides); the
    skew guard drops pathological buckets before pairing."""
    sig = simhash(docs, text_col=text_col, id_col=id_col)
    chunks = sig.selectExpr(
        id_col,
        "simhash",
        "explode(array("
        + ", ".join(
            f"struct({c} AS chunk, "
            f"(shiftright(simhash, {c * 16}) & 65535) AS key)"
            for c in range(4))
        + ")) AS ck",
    ).selectExpr(id_col, "simhash", "ck.chunk AS chunk", "ck.key AS key")
    # Persist AFTER the explode+cap, not the signature table: the two
    # self-join sides then read the capped chunk table from cache, so
    # the vote aggregation AND the explode+window run once, not twice.
    chunks = _cap_buckets(chunks, ["chunk", "key"], max_bucket_size)
    # Surviving-chunk bitmask per doc (bit c set iff the doc's chunk-c
    # row survived the skew cap) — lets the pair emitter below pick ONE
    # canonical chunk per pair with pure bit math instead of a DISTINCT
    # shuffle over every candidate pair.
    chunks = chunks.withColumn(
        "m",
        F.expr(f"sum(shiftleft(1, chunk)) OVER (PARTITION BY {id_col})"),
    ).persist()
    a = chunks.selectExpr(f"{id_col} AS id_a", "simhash AS sig_a",
                          "m AS m_a", "chunk", "key")
    b = chunks.selectExpr(f"{id_col} AS id_b", "simhash AS sig_b",
                          "m AS m_b", "chunk", "key")
    hamming = F.expr("bit_count(sig_a ^ sig_b)")
    # Min-chunk attribution replaces DISTINCT: a pair colliding on k
    # chunks appears k times in the join output; emit it only from the
    # smallest chunk where BOTH rows survived the cap AND the 16-bit
    # keys collide.  That emits every qualifying pair exactly once, so
    # the result SET equals the distinct form — without shuffling the
    # candidate pairs again.
    min_chunk = " AND ".join(
        f"NOT (chunk > {c} AND ((shiftright(m_a & m_b, {c}) & 1) = 1)"
        f" AND ((shiftright(sig_a, {16 * c}) & 65535)"
        f" = (shiftright(sig_b, {16 * c}) & 65535)))"
        for c in range(3)
    )
    return (
        a.join(b, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.expr(min_chunk))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# incremental dedup (streaming-append contract)


def exact_dedup_state(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """The compact dedup index a production pipeline persists between
    batches: one row per distinct content digest ->
    (digest, canonical_id, group_size)."""
    content = F.col(text_col)
    if normalize:
        content = F.lower(F.regexp_replace(F.trim(content), r"\s+", " "))
    return (
        docs.select(F.col(id_col), F.md5(content).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def incremental_exact_dedup(
    state: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Merge a NEW batch into an existing dedup state without touching
    the already-processed corpus — the incremental contract a
    streaming-append pipeline needs ("don't recompute the world per
    batch").

    The batch digests once (one scan of the batch only), pre-aggregates
    per digest (min id + count — map-side combinable), and full-outer
    merges with the state on the digest key.  Merged canonical is the
    min across both sides, so the result is EXACTLY the state a batch
    recompute over old+new would produce (order-insensitive,
    idempotent for re-delivered batches only if the upstream dedups
    deliveries — an exactly-once source or dropDuplicates on id).

    Scale: the only corpus-sized input is ``state`` (one row per
    distinct digest, smaller than the corpus).  Persist it bucketed by
    digest and the merge join is co-partitioned — the per-batch cost
    is then O(batch) shuffle + a bucket-local join, independent of
    corpus size."""
    delta = exact_dedup_state(new_docs, text_col=text_col, id_col=id_col,
                              normalize=normalize).select(
        "digest",
        F.col("canonical_id").alias("__new_min"),
        F.col("group_size").alias("__new_cnt"),
    )
    return (
        state.join(delta, "digest", "full_outer")
        .select(
            "digest",
            F.least(
                F.coalesce("canonical_id", "__new_min"),
                F.coalesce("__new_min", "canonical_id"),
            ).alias("canonical_id"),
            (
                F.coalesce("group_size", F.lit(0))
                + F.coalesce("__new_cnt", F.lit(0))
            ).alias("group_size"),
        )
    )


# --------------------------------------------------------------------------
# incremental NEAR-dup dedup (streaming-append contract, minhash state)


def minhash_sig_state(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Signature rows for the incremental near-dup state:
    (doc_id, h0..h{n-1}, is_dup=false).  Docs with fewer than ``k``
    tokens have no shingles and drop out (same rule as the batch
    pipeline)."""
    sig = minhash_signature(
        shingles(docs, k=k, text_col=text_col, id_col=id_col),
        num_hashes=num_hashes, id_col=id_col)
    return sig.withColumn("is_dup", F.lit(False))


def incremental_near_dedup(
    state: DataFrame,
    new_docs: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    num_bands: int = 2,
    min_agree: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge a NEW batch into a minhash near-dup state without
    touching the processed corpus — the approximate twin of
    :func:`incremental_exact_dedup` for streaming-append pipelines.

    Contract ("earlier-any"): a new doc is a near-dup iff SOME doc
    with a smaller id — already in the state or earlier in this batch,
    itself kept or dup — collides with it in an LSH band AND their
    signatures agree on at least ``ceil(min_agree * num_hashes)``
    positions (the signature-agreement Jaccard estimate; the state
    stores signatures, not shingle sets, so verification is
    state-bounded).  Because candidacy is defined against ALL earlier
    ids, id-monotone batching is invariant: any split of an append
    stream into batches yields exactly the flags of one big batch —
    the multi-batch == batch test pins this.

    Scale: per batch, one batch-sized signature shuffle plus an LSH
    band join of the batch against the state's band projection (band
    keys are md5s of state columns — computed in the map phase, never
    stored).  The state is one row of ``num_hashes`` digests per doc:
    far smaller than the corpus, bucketable by band for co-location.
    """
    hcols = [f"h{j}" for j in range(num_hashes)]
    batch_sig = minhash_sig_state(
        new_docs, k=k, num_hashes=num_hashes,
        text_col=text_col, id_col=id_col).drop("is_dup")
    old_sig = state.select(id_col, *hcols)
    all_sig = old_sig.unionByName(batch_sig).persist()
    new_bands = lsh_bands(batch_sig, num_bands, id_col=id_col).select(
        F.col(id_col).alias("__id_new"), "band", "band_key")
    all_bands = lsh_bands(all_sig, num_bands, id_col=id_col).select(
        F.col(id_col).alias("__id_old"), "band", "band_key")
    import math

    need = math.ceil(min_agree * num_hashes)
    cand = (
        new_bands.join(all_bands, ["band", "band_key"])
        .where(F.col("__id_old") < F.col("__id_new"))
        .select("__id_new", "__id_old")
        .distinct()
    )
    sa = all_sig.select(F.col(id_col).alias("__id_new"),
                        *[F.col(h).alias(f"__a_{h}") for h in hcols])
    sb = all_sig.select(F.col(id_col).alias("__id_old"),
                        *[F.col(h).alias(f"__b_{h}") for h in hcols])
    n_agree = reduce(
        operator.add,
        [(F.col(f"__a_{h}") == F.col(f"__b_{h}")).cast("int")
         for h in hcols])
    dup_ids = (
        cand.join(sa, "__id_new").join(sb, "__id_old")
        .where(n_agree >= F.lit(int(need)))
        .select(F.col("__id_new").alias(id_col))
        .distinct()
    )
    flagged = batch_sig.join(dup_ids.withColumn("__d", F.lit(True)),
                             id_col, "left").select(
        id_col, *hcols,
        F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"))
    # materialize the merged state per batch (lineage truncation): an
    # incremental pipeline WRITES its state after every merge — the
    # NearDupStateStore shape — so chaining batches must not compound
    # each batch's band/verify DAG into the next plan
    out = state.unionByName(flagged).localCheckpoint(eager=True)
    all_sig.unpersist()
    return out


class NearDupStateStore:
    """Incremental near-dup state persisted as BUCKETED catalog tables
    (round 7 — VERDICT r6 item 3: ``incremental_near_dedup``
    recomputed and shuffled the full state's band projection every
    batch; at a very large state that per-batch state shuffle
    dominates).

    Two tables, written once per batch with append-only bucketed
    writes (:func:`xcube_spark.sources.layout.write_bucketed_table`'s
    storage contract):

    - ``{name}_sig(doc_id, h0..h{n-1}, is_dup)`` bucketed by
      ``doc_id`` — the signature state (8 digests/doc, never the
      corpus); candidate verification joins it ON ``doc_id`` with no
      state-side exchange.
    - ``{name}_bands(bkey, doc_id)`` bucketed by ``bkey`` (the
      ``band:band_key`` digest) — the band projection, computed ONCE
      per doc at append time instead of once per batch; the LSH
      candidate join shuffles only the batch side into the state's
      bucket layout.

    Same "earlier-any" contract as :func:`incremental_near_dedup`
    (a new doc is a dup iff some smaller-id doc — in the state or
    earlier in the batch — band-collides and agrees on
    ``ceil(min_agree * num_hashes)`` signature positions), so
    id-monotone batching remains invariant: any batch split yields
    the flags of one big batch.
    """

    def __init__(
        self,
        spark,
        name: str,
        k: int = 3,
        num_hashes: int = 8,
        num_bands: int = 2,
        min_agree: float = 0.75,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int | None = None,
    ) -> None:
        import math

        self.spark = spark
        self.sig_table = f"{name}_sig"
        self.bands_table = f"{name}_bands"
        self.k = k
        self.num_hashes = num_hashes
        self.num_bands = num_bands
        self.need = math.ceil(min_agree * num_hashes)
        self.text_col = text_col
        self.id_col = id_col
        # an existing state pins the bucket count: appends and
        # compact() must keep the table's layout whatever the core
        # count of the session that reopens it.  A new state follows
        # the cluster width (r13; was a constant 32 tuned to neither
        # rig): each bucketed write runs one task per bucket and each
        # state-side join reads one bucket per task, so cores ==
        # buckets keeps both fully parallel without a fan-out of tiny
        # files.  Callers with a known production layout pass it
        # explicitly.
        existing = self._table_buckets()
        if (existing is not None and n_buckets is not None
                and int(n_buckets) != existing):
            raise ValueError(
                f"{self.sig_table} has {existing} buckets, "
                f"n_buckets={n_buckets} given")
        if existing is not None:
            self.n_buckets = existing
        elif n_buckets is not None:
            self.n_buckets = int(n_buckets)
        else:
            self.n_buckets = spark.sparkContext.defaultParallelism
        self.hcols = [f"h{j}" for j in range(num_hashes)]
        # replay guard: the FIRST batch_id-tagged merge in this
        # process may follow a crash that left a previous attempt
        # half-appended — it anti-joins already-present batch rows.
        # Later merges in the same process appended cleanly (the
        # prior merge_batch returned), so they append directly.
        self._replay_checked = False

    # -- state access ---------------------------------------------------

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.sig_table)

    def _table_buckets(self) -> int | None:
        """Bucket count of the existing ``{name}_sig`` table (catalog
        metadata, no job), or None when there is no such table."""
        if not self.exists():
            return None
        for r in self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {self.sig_table}").collect():
            if r.col_name == "Num Buckets":
                return int(r.data_type)
        return None

    def flags(self) -> DataFrame:
        """The merged state: (doc_id, h0.., is_dup)."""
        self._refresh()
        return self.spark.table(self.sig_table).select(
            self.id_col, *self.hcols, "is_dup")

    def _refresh(self) -> None:
        """Invalidate cached table relations: appends performed in a
        foreachBatch micro-batch run in a CLONED session whose writes
        do not invalidate this session's relation cache — without the
        refresh a reader sees the pre-append file listing."""
        if self.exists():
            for t in (self.sig_table, self.bands_table):
                self.spark.catalog.refreshTable(t)

    def compact(self) -> None:
        """Rewrite both state tables preserving the bucket layout
        (VERDICT r7 watch item): append-only bucketed writes leave one
        file set per micro-batch, so after thousands of batches each
        bucket is thousands of small files.  Compaction repartitions
        into the bucket layout (same Murmur3 hash as bucketing, so
        each task holds exactly one bucket and writes ONE file) and
        swaps the rewritten table in; rows — including the ``__batch``
        replay tags — are unchanged, so join plans and the replay
        guard behave identically.

        Not crash-atomic (a maintenance operation, not part of the
        exactly-once batch path): a crash mid-swap leaves the
        ``{table}__compact`` temp to re-run against.
        """
        import os
        import shutil
        from urllib.parse import urlparse

        self._refresh()
        wh = urlparse(
            self.spark.conf.get("spark.sql.warehouse.dir", "")).path
        for table, bucket_col in ((self.sig_table, self.id_col),
                                  (self.bands_table, "bkey")):
            if not self.spark.catalog.tableExists(table):
                continue
            tmp = f"{table}__compact"
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            tmp_loc = os.path.join(wh, tmp.lower()) if wh else None
            if tmp_loc and os.path.isdir(tmp_loc):
                shutil.rmtree(tmp_loc, ignore_errors=True)
            # read the FILES, not the catalog table: the bucketed scan
            # already reports HashPartitioning(col, n), so Catalyst
            # elides the repartition below as redundant while the
            # write still runs one task per input split — exactly the
            # small-file layout compaction is meant to remove.  A
            # plain parquet scan keeps the repartition real; its
            # hash-partition id (pmod of the same Murmur3) equals the
            # bucket id, so each task holds one bucket and writes ONE
            # file.
            loc = os.path.join(wh, table.lower())
            (self.spark.read
             .schema(self.spark.table(table).schema).parquet(loc)
             .repartition(self.n_buckets, F.col(bucket_col))
             .write.format("parquet").mode("overwrite")
             .bucketBy(self.n_buckets, bucket_col).saveAsTable(tmp))
            self.spark.sql(f"DROP TABLE {table}")
            loc = os.path.join(wh, table.lower()) if wh else None
            if loc and os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
            self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            self.spark.catalog.refreshTable(table)

    def drop(self) -> None:
        """Drop catalog entries AND their warehouse directories: the
        catalog is per-session (in-memory), so a fresh session does
        not know a previous session's tables — DROP alone would leave
        the physical location behind and the next saveAsTable fails
        with LOCATION_ALREADY_EXISTS."""
        import os
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(
            self.spark.conf.get("spark.sql.warehouse.dir", "")).path
        for t in (self.sig_table, self.bands_table,
                  f"{self.sig_table}__compact",
                  f"{self.bands_table}__compact"):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
            loc = os.path.join(wh, t.lower()) if wh else None
            if loc and os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)

    # -- internals ------------------------------------------------------

    def _bkey_bands(self, sig: DataFrame) -> DataFrame:
        """(bkey, doc_id): band projection keyed by the single
        ``band:band_key`` column the bands table is bucketed on (one
        join key == the bucket column, so the bucketed side's
        distribution satisfies the join requirement outright)."""
        return lsh_bands(sig, self.num_bands, id_col=self.id_col).select(
            F.concat_ws(":", F.col("band").cast("string"),
                        F.col("band_key")).alias("bkey"),
            F.col(self.id_col),
        )

    def _old_candidates(self, new_bands: DataFrame) -> DataFrame:
        """Batch bands against the bucketed state band table: the
        state side scans in place (Bucketed: true, no exchange); only
        the batch side shuffles into the bucket layout."""
        state_bands = self.spark.table(self.bands_table)
        return (
            new_bands.select(F.col("bkey"),
                             F.col(self.id_col).alias("__id_new"))
            .join(state_bands.select(
                F.col("bkey"), F.col(self.id_col).alias("__id_old")),
                "bkey")
            .where(F.col("__id_old") < F.col("__id_new"))
            .select("__id_new", "__id_old")
        )

    def _verify(self, cand: DataFrame, sb_source: DataFrame) -> DataFrame:
        """Signature-agreement check of candidate pairs; the old side
        joins ``sb_source`` on its id (for the state table: bucketed
        on doc_id, so again no state-side exchange)."""
        sa = self._batch_sig_cache.select(
            F.col(self.id_col).alias("__id_new"),
            *[F.col(h).alias(f"__a_{h}") for h in self.hcols])
        sb = sb_source.select(
            F.col(self.id_col).alias("__id_old"),
            *[F.col(h).alias(f"__b_{h}") for h in self.hcols])
        n_agree = reduce(
            operator.add,
            [(F.col(f"__a_{h}") == F.col(f"__b_{h}")).cast("int")
             for h in self.hcols])
        return (
            cand.join(sb, "__id_old").join(sa, "__id_new")
            .where(n_agree >= F.lit(int(self.need)))
            .select(F.col("__id_new").alias(self.id_col))
        )

    def _append(self, df: DataFrame, table: str, bucket_col: str) -> None:
        (df.write.format("parquet").mode("append")
         .bucketBy(self.n_buckets, bucket_col).saveAsTable(table))

    # -- merge ----------------------------------------------------------

    def merge_batch(self, new_docs: DataFrame,
                    batch_id: int | None = None) -> None:
        """Fold an id-monotone batch into the state: flag dups against
        state + earlier-in-batch docs, append signatures and band
        rows.  Per batch: one batch-sized signature shuffle, one
        batch-side-only shuffle into each bucketed table's layout —
        the state is never re-shuffled or re-projected.

        ``batch_id`` (the streaming sink's micro-batch id) makes the
        merge idempotent under at-least-once replay (ADVICE r7): rows
        append tagged with ``__batch``, and the first tagged merge
        after a restart anti-joins rows that batch already appended
        before a crash — the two per-table appends plus the sink's
        marker are not atomic, so a replay can otherwise double
        whichever table committed first.  The anti-join runs ONLY on
        that first post-restart merge; steady-state batches append
        with no extra state scan."""
        batch_sig = minhash_sig_state(
            new_docs, k=self.k, num_hashes=self.num_hashes,
            text_col=self.text_col, id_col=self.id_col).drop("is_dup")
        batch_sig = batch_sig.persist()
        self._batch_sig_cache = batch_sig
        new_bands = self._bkey_bands(batch_sig)

        self._refresh()  # see prior foreachBatch appends (cloned session)
        if self.exists():
            cand_old = self._old_candidates(new_bands)
            dups_old = self._verify(
                cand_old.distinct(), self.spark.table(self.sig_table))
        else:
            dups_old = None
        # batch-internal pairs (earlier-in-batch ids)
        cand_new = (
            new_bands.select(F.col("bkey"),
                             F.col(self.id_col).alias("__id_new"))
            .join(new_bands.select(
                F.col("bkey"), F.col(self.id_col).alias("__id_old")),
                "bkey")
            .where(F.col("__id_old") < F.col("__id_new"))
            .select("__id_new", "__id_old")
            .distinct()
        )
        dups_new = self._verify(cand_new, batch_sig)
        dup_ids = (dups_new if dups_old is None
                   else dups_old.unionByName(dups_new)).distinct()

        flagged = batch_sig.join(
            dup_ids.withColumn("__d", F.lit(True)), self.id_col, "left"
        ).select(
            self.id_col, *self.hcols,
            F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"))

        tag = -1 if batch_id is None else int(batch_id)
        flagged = flagged.withColumn("__batch", F.lit(tag))
        tagged_bands = new_bands.withColumn("__batch", F.lit(tag))
        replay_check = (batch_id is not None and not self._replay_checked
                        and self.exists())
        self._replay_checked = True
        if replay_check:
            # a crashed prior attempt may have appended part of this
            # batch to either table: append only the complement (the
            # recomputation is deterministic, so the complement
            # completes the partial append exactly)
            done_sig = (self.spark.table(self.sig_table)
                        .where(F.col("__batch") == tag)
                        .select(self.id_col))
            flagged = flagged.join(done_sig, self.id_col, "left_anti")
            done_bands = (self.spark.table(self.bands_table)
                          .where(F.col("__batch") == tag)
                          .select("bkey", self.id_col))
            tagged_bands = tagged_bands.join(
                done_bands, ["bkey", self.id_col], "left_anti")
        # the sig append materializes the persisted batch_sig (and the
        # dup verification riding it) first; the independent bands
        # append then OVERLAPS the sig append's task tail from a
        # driver thread (guide §2.6 — two writes to different tables,
        # both reading only the cached batch projection).  Same rows
        # appended in the same layout; measured ~15 % off the
        # per-merge wall at sf0.01.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut = pool.submit(
                self._append, tagged_bands, self.bands_table, "bkey")
            self._append(flagged, self.sig_table, self.id_col)
            fut.result()
        batch_sig.unpersist()
        del self._batch_sig_cache


def lsh_recall_stats(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    num_bands: int = 2,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """Recall of the banded-LSH candidate stage against exact-Jaccard
    truth — the dedup analog of ANN recall evaluation
    (``similarity.knn_recall``).

    MinHash banding is the probabilistic stage of the near-dup
    pipeline: a true pair at similarity ``s`` is caught with
    probability ``1 - (1 - s^r)^b`` (r hashes/band, b bands), so a
    pipeline owner tuning (k, hashes, bands) needs the measured catch
    rate, not just the formula.  This computes, in one plan:

    - ``n_truth``:  pairs whose EXACT shingle Jaccard >= ``threshold``
      (shared-shingle equi-join — only pairs sharing >= 1 shingle can
      pass any threshold > 0, so the cross product never materializes);
    - ``n_candidates``: distinct banded-LSH bucket-collision pairs;
    - ``n_hit``: truth pairs the candidate stage caught (left-semi);
    - ``recall = n_hit / n_truth`` (6-decimal nudge-rounded).

    One row out.  The shingle table is built ONCE (persisted while it
    feeds the signature chain AND the exact-truth join, released as
    soon as both are materialized); the truth and candidate pair sets
    are eagerly ``localCheckpoint``ed — each feeds two consumers (its
    count and the hit semi-join), both are pair-id-sized, and the
    truncated lineage keeps the final stats plan from dragging the
    whole shingle/band DAG behind every consumer (the dedup_clusters
    recipe).  Counts are exact integers — the only float in the
    output is the final ratio.

    ``sample_mod``: evaluate on the deterministic ``id % sample_mod
    == 0`` document subset.  Exact all-pairs truth is inherently
    quadratic in the duplicate-group size (a shingle shared by 250
    docs contributes 31k pair rows), so corpus-wide truth is the one
    thing this pipeline can NEVER afford at 100 TB — a recall
    estimate over a deterministic holdout sample is the production
    shape, and the sample filter prunes at the parquet scan.
    """
    from xcube_spark.util import tie_cache_lifetime

    if sample_mod is not None:
        docs = docs.where(F.col(id_col) % sample_mod == 0)
    sh = shingles(docs, k=k, text_col=text_col, id_col=id_col).persist()

    # exact truth: shared-shingle intersection counts vs set sizes
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    truth = (
        inter.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b")
    ).localCheckpoint(eager=True)

    cands = lsh_candidate_pairs(
        lsh_bands(minhash_signature(sh, num_hashes=num_hashes,
                                    id_col=id_col),
                  num_bands=num_bands, id_col=id_col),
        id_col=id_col).localCheckpoint(eager=True)
    # both pair tables are materialized — the shingle cache is done
    sh.unpersist()

    # all three counts from ONE full-outer join of the two distinct
    # pair sets (r13): rows present on the truth side count n_truth,
    # on the candidate side n_candidates, on both n_hit — exactly the
    # former count + count + semi-join-count triple, but one aggregate
    # instead of three single-row aggregates chained through two
    # BroadcastNestedLoopJoins.  All sums are exact integers.
    m = (
        truth.withColumn("__t", F.lit(1))
        .join(cands.withColumn("__c", F.lit(1)),
              ["id_a", "id_b"], "full_outer")
    )
    stats = (
        m.agg(
            F.coalesce(F.sum("__t"), F.lit(0)).cast("long")
            .alias("n_truth"),
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long")
            .alias("n_candidates"),
            F.coalesce(F.sum(F.col("__t") * F.col("__c")), F.lit(0))
            .cast("long").alias("n_hit"),
        )
        .select(
            "n_truth", "n_candidates", "n_hit",
            F.round(F.col("n_hit").cast("double") / F.col("n_truth")
                    + F.lit(1e-9), 6).alias("recall"))
    )
    tie_cache_lifetime(stats, cands)
    return stats


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style winnowing fingerprints: md5 each character
    ``k``-gram, slide a ``w``-wide window over consecutive gram
    positions, keep each window's minimum hash; the DISTINCT selected
    hashes are the document's fingerprint set (guaranteed to share a
    fingerprint with any other document containing a common substring
    of length >= ``k + w - 1`` — the winnowing theorem, Schleimer et
    al.).  The robust local-similarity dual of the global
    ``fingerprint`` digest: partial overlaps still collide.

    Returns ``(id, n_grams, n_fingerprints, fp_digest)`` where
    ``fp_digest`` is md5 over the sorted distinct fingerprint hashes
    (equal digests = winnowing-identical documents).  Documents
    shorter than ``k + w - 1`` characters have no complete window and
    emit NO output row — a document with no fingerprints has nothing
    to collide on, and the SQL twin's complete-window predicate drops
    them identically.

    Scale shape: gram explode is narrow (positions derive from one
    substring transform); the window min runs per-doc on the (doc,
    pos) sort — ONE exchange; the distinct + digest reduce is
    fingerprint-sized (~n_grams / w per doc).
    """
    from pyspark.sql.window import Window

    grams = docs.select(
        F.col(id_col),
        # guard: for length < k there are no grams.  sequence(1, 0)
        # would generate a DESCENDING [1, 0] array (two bogus grams),
        # so emit an empty array instead of relying on the later
        # complete-window filter to drop them.
        F.posexplode(F.expr(
            f"CASE WHEN length({text_col}) >= {k} THEN "
            f"transform(sequence(1, length({text_col}) - {k - 1}), "
            f"i -> md5(substring({text_col}, i, {k}))) "
            f"ELSE array() END"
        )).alias("pos", "h"),
    )
    win = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(0, w - 1)
    n_grams = F.greatest(F.length(text_col) - F.lit(k - 1), F.lit(0))
    lens = docs.select(F.col(id_col), n_grams.alias("n_grams"))
    sel = (
        grams.withColumn("m", F.min("h").over(win))
        .join(F.broadcast(lens), id_col)
        .where(F.col("pos") <= F.col("n_grams") - w)  # complete windows
        .groupBy(id_col, "n_grams")
        .agg(F.array_sort(F.collect_set("m")).alias("fps"))
    )
    return sel.select(
        id_col, "n_grams",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.md5(F.array_join("fps", "|")).alias("fp_digest"))


#: gear-hash constants for content-defined chunking: Knuth's
#: multiplicative constant spreads the ~60 distinct corpus code
#: points over the 32-bit ring; the cut mask tests the HIGH bits
#: (h < 2^32/divisor) so every char in the hash window influences
#: the decision (a low-bit mask would see only the newest log2(D)
#: chars, since older gear terms carry factors of 2^i)
_CDC_MULT = 2654435761
_CDC_MOD = 1 << 32


def cdc_chunk_spans(
    docs: DataFrame,
    hash_window: int = 16,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (FastCDC/gear family): split each
    document at positions chosen by a rolling gear hash of the
    trailing ``hash_window`` chars, so chunk boundaries move WITH the
    content — an insertion early in a document shifts every
    fixed-size block, but CDC boundaries downstream of the edit
    re-align, which is what makes chunk-level dedup robust (the
    storage-dedup primitive, applied here to text corpora: shared
    boilerplate/quotations dedup at chunk granularity even when
    documents differ elsewhere).

    The gear recursion ``h_t = 2*h_{t-1} + g(c_t)`` truncates to
    ``h_t = sum_i g(c_{t-i}) * 2^i (mod 2^32)`` over the window —
    the same unrolled-lag shape as the EMA family, all exact BIGINT
    arithmetic.  A position cuts when ``h < 2^32/divisor`` (expected
    chunk length = ``divisor``) or at end-of-document.

    Returns one row per chunk: all ``docs`` columns except
    ``text_col``, plus ``chunk_no`` (0-based), ``chunk_start`` /
    ``chunk_end`` (1-based char positions, inclusive), ``chunk_len``,
    and ``chunk_hash`` (md5 of the chunk text — equal hashes mean
    equal chunk content, cross-document).

    Scale shape: the char explode is narrow and the per-position
    work is O(1) (ONE ascii+multiply per char; the window lags ride
    a single (doc, pos) sort — one exchange of g-rows).  Cut rows
    (~len/divisor per doc) group to a per-doc cuts array, join back
    to the text ONCE, and each chunk substring is one O(len) slice —
    the document text is never duplicated per position.
    """
    from pyspark.sql.window import Window

    hw = hash_window
    thresh = _CDC_MOD // divisor
    chars = docs.where(F.length(text_col) >= 1).select(
        F.col(id_col),
        F.length(text_col).alias("__len"),
        F.posexplode(F.split(text_col, "")).alias("__p0", "__c"),
    ).where(
        # pre-SPARK-40194 engines emit a trailing "" element from an
        # empty-regex split; a phantom pos len+1 with g(ascii(''))=0
        # could emit a spurious cut (same guard as char_entropy)
        F.col("__c") != ""
    ).select(
        id_col, "__len", (F.col("__p0") + 1).alias("pos"),
        ((F.ascii("__c") * F.lit(_CDC_MULT)) % F.lit(_CDC_MOD))
        .alias("__g"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    h = None
    for i in range(hw):
        x = F.col("__g") if i == 0 else F.lag("__g", i).over(w)
        term = x * F.lit(1 << i)
        h = term if h is None else h + term
    cuts_rows = (
        chars.withColumn("__h", h % F.lit(_CDC_MOD))
        .where(((F.col("pos") >= hw) & (F.col("__h") < thresh))
               | (F.col("pos") == F.col("__len")))
        .select(id_col, "pos")
    )
    cuts = cuts_rows.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__cuts"))
    keep = [c for c in docs.columns if c != text_col]
    spans = (
        docs.join(cuts, id_col)
        .select(*keep, F.col(text_col),
                F.posexplode("__cuts").alias("chunk_no", "chunk_end"),
                F.col("__cuts"))
        .withColumn(
            "chunk_start",
            F.when(F.col("chunk_no") == 0, F.lit(1)).otherwise(
                F.element_at("__cuts", F.col("chunk_no")) + 1))
        .withColumn("chunk_len",
                    F.col("chunk_end") - F.col("chunk_start") + 1)
        .withColumn(
            "chunk_hash",
            F.md5(F.expr(f"substr({text_col}, chunk_start, "
                         f"chunk_end - chunk_start + 1)")))
        .drop("__cuts", text_col)
    )
    return spans


def cdc_dedup_stats(
    docs: DataFrame,
    group_col: str = "source",
    hash_window: int = 16,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level dedup accounting per ``group_col``: how many CDC
    chunks, how many distinct, and how many chars a chunk-store
    would actually keep — the measurement that decides whether
    chunk-level dedup pays for a corpus (boilerplate-heavy crawls
    dedup 30-70% at chunk level even when exact-doc dedup finds
    nothing).

    Output: ``(group, n_chunks, n_unique_chunks, chars_total,
    chars_unique, dedup_ratio, mean_chunk_len)`` where
    ``dedup_ratio = 1 - chars_unique/chars_total`` (the fraction of
    chars eliminated by content-addressed chunk storage within the
    group).

    Scale shape: one CDC pass (see ``cdc_chunk_spans``) feeding ONE
    cascading reduce — per (group, chunk_hash) counts first (equal
    hashes share a length, so every per-group statistic derives from
    that one table), then a group-sized rollup.  The chunk table is
    consumed exactly once: a naive two-aggregate form (totals +
    distinct-chars separately) re-executes the whole explode/window
    lineage twice — measured 2x wall at sf0.1.
    """
    ch = cdc_chunk_spans(docs, hash_window=hash_window,
                         divisor=divisor, text_col=text_col,
                         id_col=id_col)
    per = ch.groupBy(group_col, "chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.min("chunk_len").cast("long").alias("__l"))
    stats = per.groupBy(group_col).agg(
        F.sum("__cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
        F.sum(F.col("__cnt") * F.col("__l")).cast("long")
        .alias("chars_total"),
        F.sum("__l").cast("long").alias("chars_unique"))
    r6 = lambda c: F.round(F.round(c + 1e-9, 6) + 0.0, 6)  # noqa: E731
    return stats.select(
        group_col, "n_chunks", "n_unique_chunks", "chars_total",
        "chars_unique",
        r6(F.lit(1.0) - F.col("chars_unique").cast("double")
           / F.col("chars_total")).alias("dedup_ratio"),
        r6(F.col("chars_total").cast("double") / F.col("n_chunks"))
        .alias("mean_chunk_len"))
