"""Training-data pipeline coverage queries (documents + embeddings).

The DuckDB oracles replicate each pipeline *exactly* — md5-based
hashing makes minhash/LSH reproducible cross-engine (see
pipeline/dedup.py docstring), so even the approximate algorithms are
hash-checked end to end, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xcube_spark.pipeline.dedup import exact_dedup_map, minhash_near_dup_pairs
from xcube_spark.pipeline.similarity import knn_bruteforce
from xcube_spark.pipeline.text import fingerprint
from xcube_spark.queries import query, tbl

@query(
    "doc_exact_dedup",
    sql=r"""
        WITH h AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                       AS digest
            FROM documents
        ), g AS (
            SELECT digest, MIN(doc_id) AS canonical_id,
                   COUNT(*) AS group_size
            FROM h GROUP BY digest
        )
        SELECT h.doc_id, h.digest, g.canonical_id, g.group_size
        FROM h JOIN g USING (digest)
    """,
)
def doc_exact_dedup(spark, sf_dir):
    """Exact dedup via normalized-content digest (hash-groupBy; one
    shuffle on a uniform short key)."""
    return exact_dedup_map(tbl(spark, sf_dir, "documents"))


#: shared CTE chain of the minhash pipeline (tokens -> shingles ->
#: signatures -> bands -> skew-capped buckets -> candidate pairs ->
#: exact-Jaccard stats); reused by the pairs and clusters oracles
_MINHASH_CTES = """toks AS (
            SELECT doc_id, lst[i + 1] AS tok, i AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS lst
                  FROM documents),
                 unnest(range(len(lst))) AS u(i)
        ), sh AS (
            SELECT DISTINCT a.doc_id,
                   a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
            FROM toks a
            JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        ), sig AS (
            SELECT doc_id,
                   MIN(md5(shingle || '#0')) AS h0,
                   MIN(md5(shingle || '#1')) AS h1,
                   MIN(md5(shingle || '#2')) AS h2,
                   MIN(md5(shingle || '#3')) AS h3,
                   MIN(md5(shingle || '#4')) AS h4,
                   MIN(md5(shingle || '#5')) AS h5,
                   MIN(md5(shingle || '#6')) AS h6,
                   MIN(md5(shingle || '#7')) AS h7
            FROM sh GROUP BY doc_id
        ), bands AS (
            SELECT doc_id, 0 AS band,
                   md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS band_key
            FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band,
                   md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS band_key
            FROM sig
        ), capped AS (
            -- skew guard: mirrors dedup.DEFAULT_MAX_BUCKET_SIZE
            SELECT doc_id, band, band_key FROM bands
            QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= 1000
        ), cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS c
            FROM cands c
            JOIN sh x ON x.doc_id = c.id_a
            JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
            GROUP BY c.id_a, c.id_b
        )"""


@query(
    "doc_minhash_near_dups",
    sql=f"""
        WITH {_MINHASH_CTES}
        SELECT i.id_a, i.id_b,
               ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8
    """,
)
def doc_minhash_near_dups(spark, sf_dir):
    """MinHash + LSH near-duplicate pairs, exact-Jaccard verified
    (shingle -> md5 minhash -> band -> bucket join -> verify).

    NOT memoized (r12 optimization round): every invocation rebuilds
    the full dedup pipeline from parquet — the builder's persisted
    shingle table and checkpointed candidate table live only inside
    one invocation, so a bench repeat measures the whole query, not
    the verify tail of a previously materialized state."""
    out = minhash_near_dup_pairs(
        tbl(spark, sf_dir, "documents"),
        k=3, num_hashes=8, num_bands=2, threshold=0.8,
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "doc_dedup_clusters",
    sql=f"""
        WITH RECURSIVE {_MINHASH_CTES},
        pairs AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ), reach AS (
            -- transitive closure: min reachable id = component label
            SELECT a AS node, a AS label FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
        ), comp AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT c.cluster_id, COUNT(*) AS cluster_size,
               MIN(c.doc_id) AS canonical_id
        FROM comp c GROUP BY c.cluster_id
    """,
)
def doc_dedup_clusters(spark, sf_dir):
    """near_dup_clusters (pipeline/dedup.py): resolve minhash near-dup
    pairs into connected components via hash-to-min label propagation
    (one join + one partial-agg shuffle per round, convergence checked
    with a one-scalar probe) — the transitive-closure step a real
    dedup pipeline needs before dropping non-canonical docs.  The
    oracle restates the closure as a recursive CTE over the same
    pair set."""
    from xcube_spark.pipeline.dedup import near_dup_clusters

    pairs = minhash_near_dup_pairs(
        tbl(spark, sf_dir, "documents"),
        k=3, num_hashes=8, num_bands=2, threshold=0.8,
    )
    clusters = near_dup_clusters(pairs)
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("doc_id").alias("canonical_id"),
    )


@query(
    "doc_dedup_canonical",
    sql=f"""
        WITH RECURSIVE {_MINHASH_CTES},
        pairs AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ), reach AS (
            SELECT a AS node, a AS label FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
        ), comp AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT d.doc_id, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (
            SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
    """,
)
def doc_dedup_canonical(spark, sf_dir):
    """dedup_keep_canonical (pipeline/dedup.py): the APPLY step of
    the near-dup pipeline — pairs -> transitive clusters -> drop
    every clustered doc except its cluster's min-id member
    (unclustered docs pass through).  One left-anti join on the
    model-sized cluster map; the corpus is never shuffled.  The
    oracle replays the whole chain (minhash -> LSH pairs -> recursive
    closure -> NOT IN filter), so a defect anywhere in the pipeline
    composition hash-fails."""
    from xcube_spark.pipeline.dedup import (dedup_keep_canonical,
                                            near_dup_clusters)

    docs = tbl(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, k=3, num_hashes=8, num_bands=2, threshold=0.8)
    kept = dedup_keep_canonical(docs, near_dup_clusters(pairs))
    return kept.select("doc_id", "source")


@query(
    "doc_token_stats",
    sql="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               COUNT(DISTINCT tok) AS n_unique,
               ROUND(AVG(length(tok)), 6) AS mean_word_len,
               ROUND(COUNT(*) FILTER (tok IN ('the', 'a', 'of', 'and',
                     'to', 'in', 'is', 'that', 'it', 'for')) * 1.0
                     / COUNT(*), 6) AS stopword_ratio
        FROM toks
        GROUP BY doc_id
    """,
)
def doc_token_stats(spark, sf_dir):
    """Token counting + quality features (pipeline/text.py): whitespace
    tokens, distinct count, mean token length, stopword ratio."""
    from xcube_spark.pipeline.text import STOPWORDS

    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_unique"),
        F.round(F.avg(F.length("tok")), 6).alias("mean_word_len"),
        F.round(
            F.count(F.when(F.array_contains(sw, F.col("tok")), 1))
            / F.count(F.lit(1)),
            6,
        ).alias("stopword_ratio"),
    )


@query(
    "doc_fingerprint",
    sql=r"""
        SELECT doc_id,
               md5(array_to_string(
                   list_sort(list_distinct(
                       regexp_split_to_array(lower(trim(text)), '\s+'))),
                   ' ')) AS fingerprint
        FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Order/repetition-invariant content fingerprint (md5 over the
    sorted distinct token set)."""
    return fingerprint(tbl(spark, sf_dir, "documents"))


@query(
    "emb_knn_cosine",
    sql="""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   list_dot_product(c.v, q.qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS cos
            FROM c, q
            WHERE c.vec_id != q.query_id
        ), ranked AS (
            SELECT query_id, vec_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, rank
        FROM ranked WHERE rank <= 10
    """,
)
def emb_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-k (similarity-search baseline): the query
    set collects once and every corpus batch is scored in one
    ``mapInArrow`` scan (numpy matmul, local top-k prune), then a
    window ranks the survivors."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_bruteforce(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


@query(
    "emb_mips_topk",
    sql="""
        WITH c AS (
            SELECT vec_id,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> x * CAST(1 + vec_id % 7 AS DOUBLE)) AS v
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   list_dot_product(c.v, q.qv) AS s
            FROM c, q
            WHERE c.vec_id != q.query_id
        ), ranked AS (
            SELECT query_id, vec_id, s,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, vec_id) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, ROUND(ROUND(s + 1e-9, 6) + 0.0, 6)
                   AS dot, rank
        FROM ranked WHERE rank <= 10
    """,
)
def emb_mips_topk(spark, sf_dir):
    """Maximum-inner-product search (MIPS) top-k: brute-force inner
    product per query over ONE corpus scan (knn_bruteforce with
    metric="dot") — the retrieval objective for un-normalized
    embeddings, where magnitude carries relevance (the classic
    index reduction augments vectors with sqrt(M^2 - |v|^2) to reuse
    cosine LSH/IVF; the exact path scores the raw product).  The
    fixture embeddings are unit-norm, so vectors are scaled by a
    deterministic per-id integer magnitude (exact float multiply on
    both engines) to make the inner-product ranking genuinely
    norm-dominated — a cosine ranker would return DIFFERENT rows."""
    from xcube_spark.pipeline.similarity import knn_bruteforce

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(CAST(embedding AS ARRAY<DOUBLE>), "
               "x -> x * CAST(1 + vec_id % 7 AS DOUBLE))")
        .alias("embedding"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = knn_bruteforce(emb, queries, k=10, metric="dot",
                         score_col="dot")
    return out.select(
        "query_id", "vec_id",
        F.round(F.round(F.col("dot") + 1e-9, 6) + 0.0, 6).alias("dot"),
        "rank")


@query(
    "emb_centroid_by_label",
    sql="""
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), pos AS (
            SELECT label, i AS dim, v[i + 1] AS val
            FROM e, unnest(range(len(v))) AS u(i)
        )
        SELECT label, CAST(dim AS INT) AS dim,
               ROUND(AVG(val), 6) AS centroid,
               COUNT(*) AS n
        FROM pos GROUP BY label, dim
    """,
)
def emb_centroid_by_label(spark, sf_dir):
    """Per-label centroid of the embedding column — the aggregation
    shape of IVF coarse quantization (cluster assign + mean)."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    pos = emb.select("label", F.posexplode("v").alias("dim", "val"))
    return pos.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "doc_incremental_dedup",
    sql=r"""
        WITH h AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                       AS digest
            FROM documents
        )
        SELECT digest, MIN(doc_id) AS canonical_id,
               COUNT(*) AS group_size
        FROM h GROUP BY digest
    """,
)
def doc_incremental_dedup(spark, sf_dir):
    """incremental_exact_dedup (pipeline/dedup.py): the corpus is
    split into an 'already processed' part (doc_id < 400 per 500 docs)
    whose compact digest state is built once, and a 'new batch' merged
    into it WITHOUT rescanning the old corpus.  The oracle is the
    batch recompute over everything — passing means the incremental
    merge is exactly equivalent to recomputation, which is the whole
    contract."""
    from xcube_spark.pipeline.dedup import (
        exact_dedup_state, incremental_exact_dedup)

    docs = tbl(spark, sf_dir, "documents")
    cut = 400  # sf0.01 has 500 docs; any prefix/suffix split works
    state = exact_dedup_state(docs.where(F.col("doc_id") < cut))
    return incremental_exact_dedup(state, docs.where(F.col("doc_id") >= cut))


@query(
    "doc_tfidf_keywords",
    sql=r"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM toks WHERE token != '' GROUP BY doc_id, token
        ), dfreq AS (
            SELECT token, COUNT(*) AS df FROM tf GROUP BY token
        ), n AS (SELECT COUNT(*) AS nn FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   tf.tf * (ln((nn + 1.0) / (df + 1.0)) + 1.0) AS score
            FROM tf JOIN dfreq USING (token) CROSS JOIN n
        ), ranked AS (
            SELECT doc_id, token, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, token) AS rank
            FROM scored
        )
        SELECT doc_id, rank, token, ROUND(score, 6) AS score
        FROM ranked WHERE rank <= 3
    """,
)
def doc_tfidf_keywords(spark, sf_dir):
    """Corpus-level TF-IDF keyword extraction (pipeline/text.py
    tfidf_keywords): per-doc top-3 tokens by the smoothed
    tf * idf — two partial-agg shuffles (term frequencies, the
    document-frequency vocabulary table) + a token-key join back; the
    oracle replays the identical algebra.  Score ties (equal (tf, df)
    pairs) produce bit-identical doubles in both engines, so the
    (score DESC, token) ranking cannot diverge."""
    from xcube_spark.pipeline.text import tfidf_keywords

    docs = tbl(spark, sf_dir, "documents")
    out = tfidf_keywords(docs, k=3)
    return out.select("doc_id", "rank", "token",
                      F.round("score", 6).alias("score"))


#: DuckDB twin of pipeline.text.bpe_apply_merge — a list_reduce fold
#: fusing greedy left-to-right (l, r) occurrences; `b` is the joined
#: 1-row argmax CTE so no literals are smuggled in from the Spark run.
_BPE_FOLD = """' ' || list_reduce(string_split(trim(sym), ' '),
                (acc, x) -> CASE
                    WHEN x = b.r AND (acc = b.l
                                      OR ends_with(acc, ' ' || b.l))
                    THEN substr(acc, 1, length(acc) - length(b.l))
                         || b.l || b.r
                    ELSE acc || ' ' || x END) || ' '"""


def _bpe_oracle_sql(steps: int = 4, max_word_len: int = 32) -> str:
    r"""Generate the chained-CTE DuckDB twin of ``bpe_train_merges``:
    per step, a pair-count CTE, a 1-row argmax CTE, and a merged-
    vocabulary CTE applying the same greedy left-to-right fold as
    ``bpe_apply_merge`` — the oracle recomputes its own argmax chain
    with no literals smuggled in from the Spark run.  Every CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, and the b{s}
    references would otherwise re-expand the whole chain exponentially
    (measured ~12 s at sf0.01 for steps=4)."""
    parts = [f"""
        WITH words AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+'))
                       AS w
                FROM documents
            )
            WHERE w != '' AND length(w) <= {max_word_len}
              AND regexp_matches(w, '^[!-~]+$')
            GROUP BY w
        ), w0 AS MATERIALIZED (
            SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
                   || ' ' AS sym, freq
            FROM words
        )"""]
    for s in range(1, steps + 1):
        p = s - 1
        parts.append(f""", p{s} AS MATERIALIZED (
            SELECT t[i] AS l, t[i + 1] AS r,
                   CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(sym), ' ') AS t, freq
                  FROM w{p}),
                 UNNEST(range(1, len(t))) AS u(i)
            GROUP BY l, r
        ), b{s} AS MATERIALIZED (
            SELECT l, r, cnt FROM p{s} ORDER BY cnt DESC, l, r LIMIT 1
        ), w{s} AS MATERIALIZED (
            SELECT {_BPE_FOLD} AS sym, freq
            FROM w{p}, b{s} b
        )""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({s} AS INT) AS step, l AS merge_left, "
        f"r AS merge_right, cnt AS pair_count FROM b{s}"
        for s in range(1, steps + 1))
    return "".join(parts) + "\n" + selects


@query("doc_bpe_merges", sql=_bpe_oracle_sql(steps=4))
def doc_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training: the first 4 merge rules
    learned from the documents corpus (pipeline/text.py
    bpe_train_merges — vocabulary-sized iterations, 1-row argmax
    round-trips)."""
    from xcube_spark.pipeline.text import bpe_train_merges

    return bpe_train_merges(tbl(spark, sf_dir, "documents"), steps=4)


@query(
    "doc_trigram_lm",
    sql=r"""
        WITH t AS (
            SELECT doc_id,
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
            FROM documents
        ), tri AS (
            SELECT doc_id, substring(s, i, 3) AS tri
            FROM t, unnest(range(1, length(s) - 1)) AS u(i)
        ), model AS (
            SELECT tri, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tri GROUP BY tri
        ), tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM model
        )
        SELECT tri.doc_id,
               COUNT(*) AS n_trigrams,
               ROUND(AVG(-ln(m.cnt * 1.0 / tot.n)) + 1e-9, 6) AS avg_nll
        FROM tri JOIN model m USING (tri), tot
        GROUP BY tri.doc_id
    """,
)
def doc_trigram_lm(spark, sf_dir):
    """Corpus-trained character-trigram LM scoring (pipeline/text.py
    trigram_lm_score): broadcastable model table, per-doc avg negative
    log-likelihood — the CCNet-style quality-filter signal."""
    from xcube_spark.pipeline.text import trigram_lm_score

    return trigram_lm_score(tbl(spark, sf_dir, "documents"))


@query(
    "doc_domain_mix_weights",
    sql=r"""
        WITH d AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(regexp_split_to_array(
                        trim(text), '\s+'))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM d
        ), w AS (
            SELECT source, n_docs, n_tokens,
                   n_tokens * 1.0 / tot.t AS share,
                   sqrt(n_tokens * 1.0 / tot.t) AS tempered
            FROM d, tot
        )
        SELECT source, n_docs, n_tokens,
               ROUND(share + 1e-9, 6) AS token_share,
               ROUND(tempered / (SELECT SUM(tempered) FROM w) + 1e-9, 6)
                   AS mix_weight
        FROM w
    """,
)
def doc_domain_mix_weights(spark, sf_dir):
    """Temperature-scaled domain mixing weights (the DoReMi-ish
    sampling-mix step of a training pipeline): per source domain,
    token share p_i and the alpha=0.5 tempered weight
    sqrt(p_i)/sum(sqrt(p_j)) — upweights small domains without
    swamping the mix.  One partial-agg shuffle on the domain key; the
    weight table is model-sized output."""
    from pyspark.sql.window import Window

    docs = tbl(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long").alias("n_tokens"),
    )
    # totals via single-partition windows over the model-sized per-
    # source table (r13, the dsir totals recipe): the former two scalar
    # aggregates + broadcast joins planned 3 BroadcastNestedLoopJoins
    # and re-ran the d subtree per branch; t is an exact BIGINT sum so
    # no float boundary moves, and the z float sum's ordering noise is
    # absorbed by the same 1e-9 nudge-round as before.
    w0 = Window.partitionBy()
    w = d.select(
        "source", "n_docs", "n_tokens",
        F.sum("n_tokens").over(w0).cast("long").alias("t"),
    ).select(
        "source", "n_docs", "n_tokens",
        (F.col("n_tokens") * 1.0 / F.col("t")).alias("share"),
        F.sqrt(F.col("n_tokens") * 1.0 / F.col("t")).alias("tempered"),
    )
    return w.select(
        "source", "n_docs", "n_tokens",
        F.round(F.col("share") + F.lit(1e-9), 6).alias("token_share"),
        F.round(F.col("tempered") / F.sum("tempered").over(w0)
                + F.lit(1e-9), 6).alias("mix_weight"),
    )


@query(
    "doc_edit_distance_bands",
    sql="""
        WITH b AS (
            SELECT doc_id, text, lang,
                   CAST(n_chars // 20 AS BIGINT) AS band
            FROM documents
            QUALIFY COUNT(*) OVER (PARTITION BY lang, n_chars // 20)
                    <= 64
        ), pairs AS (
            SELECT a.lang, a.band,
                   levenshtein(a.text, c.text) AS d
            FROM b a JOIN b c
              ON a.lang = c.lang AND a.band = c.band
             AND a.doc_id < c.doc_id
        )
        SELECT lang, band,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MIN(d) AS BIGINT) AS min_dist,
               CAST(SUM(d) AS BIGINT) AS sum_dist
        FROM pairs GROUP BY lang, band
    """,
)
def doc_edit_distance_bands(spark, sf_dir):
    """Edit-distance near-dup audit, length-banded: candidate pairs
    are confined to (lang, n_chars//20) buckets with a hard 64-doc
    bucket cap (the LSH `_cap_buckets` discipline — the quadratic
    stays bounded per bucket at any corpus size), then JVM built-in
    ``levenshtein`` scores each pair and integer-exact per-band stats
    come back.  Both engines implement the same standard DP distance,
    so the hash match is exact with no float laundering."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang",
        (F.col("n_chars") / 20).cast("long").alias("band"))
    w = Window.partitionBy("lang", "band")
    b = (docs.withColumn("__n", F.count(F.lit(1)).over(w))
         .where(F.col("__n") <= 64).drop("__n"))
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c, (F.col("a.lang") == F.col("c.lang"))
        & (F.col("a.band") == F.col("c.band"))
        & (F.col("a.doc_id") < F.col("c.doc_id"))
    ).select(
        F.col("a.lang").alias("lang"), F.col("a.band").alias("band"),
        F.levenshtein(F.col("a.text"), F.col("c.text")).alias("d"))
    return pairs.groupBy("lang", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("d").cast("long").alias("min_dist"),
        F.sum("d").cast("long").alias("sum_dist"))


def _bpe_tokenize_oracle_sql(steps: int = 4, max_word_len: int = 32) -> str:
    r"""Oracle for ``bpe_tokenize``: the same argmax-chain CTEs as
    :func:`_bpe_oracle_sql` but carrying the source word through each
    merge, then re-tokenizing every document against the final
    word -> symbol-count vocabulary."""
    parts = [f"""
        WITH words AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+'))
                       AS w
                FROM documents
            )
            WHERE w != '' AND length(w) <= {max_word_len}
              AND regexp_matches(w, '^[!-~]+$')
            GROUP BY w
        ), w0 AS MATERIALIZED (
            SELECT w,
                   ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
                   || ' ' AS sym, freq
            FROM words
        )"""]
    for s in range(1, steps + 1):
        p = s - 1
        parts.append(f""", p{s} AS MATERIALIZED (
            SELECT t[i] AS l, t[i + 1] AS r,
                   CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(sym), ' ') AS t, freq
                  FROM w{p}),
                 UNNEST(range(1, len(t))) AS u(i)
            GROUP BY l, r
        ), b{s} AS MATERIALIZED (
            SELECT l, r, cnt FROM p{s} ORDER BY cnt DESC, l, r LIMIT 1
        ), w{s} AS MATERIALIZED (
            SELECT w, {_BPE_FOLD} AS sym, freq
            FROM w{p}, b{s} b
        )""")
    parts.append(f""", vocab AS (
            SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
                   AS n_sym
            FROM w{steps}
        ), doc_words AS (
            SELECT doc_id, w FROM (
                SELECT doc_id,
                       UNNEST(regexp_split_to_array(trim(text), '\\s+'))
                       AS w
                FROM documents
            )
            WHERE w != '' AND length(w) <= {max_word_len}
              AND regexp_matches(w, '^[!-~]+$')
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(length(w)) AS BIGINT) AS n_chars_tokens,
               CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
        FROM doc_words JOIN vocab USING (w)
        GROUP BY doc_id""")
    return "".join(parts)


@query("doc_bpe_tokenize", sql=_bpe_tokenize_oracle_sql(steps=4))
def doc_bpe_tokenize(spark, sf_dir):
    """BPE encode under the corpus-learned merges (pipeline/text.py
    bpe_tokenize): vocabulary-sized training + broadcast word->count
    map; per-doc token counts before/after 4 merges."""
    from xcube_spark.pipeline.text import bpe_tokenize

    return bpe_tokenize(tbl(spark, sf_dir, "documents"), steps=4)


@query("doc_bpe_merges_driver", sql=_bpe_oracle_sql(steps=4))
def doc_bpe_merges_driver(spark, sf_dir):
    """bpe_train_merges_driver (pipeline/text.py): the tokenizer-
    industry scale shape — one distributed word-count shuffle, then
    in-memory incremental training (pair-count deltas + lazy heap) on
    the model-sized vocabulary.  Must hash-match the SAME chained-CTE
    oracle as doc_bpe_merges: both trainers implement identical BPE
    semantics."""
    from xcube_spark.pipeline.text import bpe_train_merges_driver

    return bpe_train_merges_driver(tbl(spark, sf_dir, "documents"),
                                   steps=4)


_NEAR_AGREE = " + ".join(
    f"(CASE WHEN x.h{j} = y.h{j} THEN 1 ELSE 0 END)" for j in range(8))
_NEAR_SIG_HASHES = ",\n".join(
    f"                   MIN(md5(shingle || '#{j}')) AS h{j}"
    for j in range(8))


_NEAR_DEDUP_ORACLE_SQL = f"""
        WITH toks AS (
            SELECT doc_id, lst[i + 1] AS tok, i AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS lst
                  FROM documents),
                 unnest(range(len(lst))) AS u(i)
        ), sh AS (
            SELECT DISTINCT a.doc_id,
                   a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
            FROM toks a
            JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        ), sig AS (
            SELECT doc_id,
{_NEAR_SIG_HASHES}
            FROM sh GROUP BY doc_id
        ), bands AS (
            SELECT doc_id, 0 AS band,
                   md5(h0 || '|' || h1 || '|' || h2 || '|' || h3)
                       AS band_key
            FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band,
                   md5(h4 || '|' || h5 || '|' || h6 || '|' || h7)
                       AS band_key
            FROM sig
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND b.doc_id < a.doc_id
        ), dup AS (
            SELECT DISTINCT c.id_new
            FROM cand c
            JOIN sig x ON x.doc_id = c.id_new
            JOIN sig y ON y.doc_id = c.id_old
            WHERE ({_NEAR_AGREE}) >= 6
        )
        SELECT s.doc_id,
               (s.doc_id IN (SELECT id_new FROM dup)) AS is_dup
        FROM sig s
    """


@query("doc_incremental_near_dedup", sql=_NEAR_DEDUP_ORACLE_SQL)
def doc_incremental_near_dedup(spark, sf_dir):
    """incremental_near_dedup (pipeline/dedup.py): the minhash state
    merged over TWO id-ordered batches must equal the one-shot
    computation — the earlier-any contract makes id-monotone batching
    invariant, which is exactly what the oracle computes in one pass
    (band candidates vs all earlier ids, signature agreement >= 6/8).
    The streaming sink (run_incremental_near_dedup_stream) replays the
    same merge per micro-batch."""
    from pyspark.sql import types as T

    from xcube_spark.pipeline.dedup import incremental_near_dedup

    docs = tbl(spark, sf_dir, "documents")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"h{j}", T.StringType()) for j in range(8)]
        + [T.StructField("is_dup", T.BooleanType())])
    state = spark.createDataFrame([], schema)
    state = incremental_near_dedup(state, docs.where(F.col("doc_id") < 250))
    state = incremental_near_dedup(state, docs.where(F.col("doc_id") >= 250))
    return state.select("doc_id", "is_dup")


@query("doc_incremental_near_dedup_bucketed",
       sql=_NEAR_DEDUP_ORACLE_SQL)
def doc_incremental_near_dedup_bucketed(spark, sf_dir):
    """NearDupStateStore (pipeline/dedup.py, r7): the BUCKETED-table
    state — signatures bucketed by doc_id, band projection bucketed by
    band key — merged over two id-ordered batches must equal the same
    one-shot oracle as doc_incremental_near_dedup (the earlier-any
    contract is storage-layout-independent).  The bucketed layout is
    the scale path: per batch the state is scanned in place, never
    re-projected or shuffled (plan-pinned in tests/test_streaming.py).
    """
    from xcube_spark.pipeline.dedup import NearDupStateStore

    docs = tbl(spark, sf_dir, "documents")
    store = NearDupStateStore(spark, "q_nd_bucketed_state")
    store.drop()  # idempotent across repeated bench/driver runs
    store.merge_batch(docs.where(F.col("doc_id") < 250))
    store.merge_batch(docs.where(F.col("doc_id") >= 250))
    return store.flags().select("doc_id", "is_dup")


#: fixed benchmark query strings for the BM25 retrieval gate (drawn
#: from the synthetic corpus vocabulary; VALUES-inlined identically on
#: both engines)
_BM25_QUERIES = ((1, "spark window agg"),
                 (2, "customer query fast"),
                 (3, "vector stream merge"))
_BM25_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _BM25_QUERIES)


@query(
    "doc_bm25_topk",
    sql=rf"""
        WITH q AS (
            SELECT * FROM (VALUES {_BM25_VALUES})
                AS v(query_id, query_text)
        ), qt AS (
            SELECT DISTINCT query_id,
                   UNNEST(regexp_split_to_array(trim(query_text), '\s+'))
                       AS token
            FROM q
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(len(regexp_split_to_array(trim(text),
                                                      '\s+')))
                        AS BIGINT) AS tdl
            FROM documents
        ), toks AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS dl,
                   UNNEST(regexp_split_to_array(trim(text), '\s+'))
                       AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, dl, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks
            WHERE token != '' AND token IN (SELECT token FROM qt)
            GROUP BY doc_id, dl, token
        ), dfreq AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY token
        ), scored AS (
            SELECT qt.query_id, tf.doc_id,
                   ln(1.0 + (stats.n - dfreq.df + 0.5)
                      / (dfreq.df + 0.5))
                   * (tf.tf * CAST(2.2 AS DOUBLE))
                   / (tf.tf + CAST(1.2 AS DOUBLE)
                      * (0.25 + CAST(0.75 AS DOUBLE)
                         * tf.dl * stats.n / stats.tdl))
                       AS s
            FROM tf
            JOIN qt USING (token)
            CROSS JOIN stats
            JOIN dfreq USING (token)
        ), agg AS (
            SELECT query_id, doc_id,
                   ROUND(SUM(s) + 1e-9, 6) AS score
            FROM scored GROUP BY query_id, doc_id
        ), ranked AS (
            SELECT query_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id)
                       AS rank
            FROM agg
        )
        SELECT query_id, rank, doc_id, ROUND(score, 6) AS score
        FROM ranked WHERE rank <= 5
    """,
)
def doc_bm25_topk(spark, sf_dir):
    """Okapi BM25 retrieval (pipeline/text.py bm25_topk): top-5
    documents for each of 3 fixed benchmark queries — the
    contamination-triage / data-selection retrieval primitive
    (additive surface; the reference has no text retrieval).  The
    corpus is tokenized/aggregated once and LEFT-SEMI filtered to the
    broadcast query vocabulary BEFORE df/idf and the scoring join, so
    only candidate rows flow downstream; per-doc lengths are the only
    other corpus-sized aggregation.  Ranking uses the 1e-9-nudged
    6-decimal rounding with doc_id tie-break so cross-engine 1-ulp
    sum-order noise cannot flip the top-k (k1 = 1.2, b = 0.75:
    1 - b = 0.25, k1 + 1 = 2.2 inlined identically in the oracle).
    NOT memoized (r12 optimization round): every invocation re-runs
    the corpus-stats fold, the candidate build and the scoring join
    from parquet; the builder's persisted candidate table lives only
    inside one invocation."""
    from xcube_spark.pipeline.text import bm25_topk

    docs = tbl(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), "query_id int, query_text string")
    out = bm25_topk(docs, queries, k=5, query_rows=list(_BM25_QUERIES))
    return out.select("query_id", "rank", "doc_id",
                      F.round("score", 6).alias("score"))


#: 3-nibble md5 feature bucket as DuckDB SQL (no conv() in DuckDB —
#: the sketches-family nibble idiom)
_DSIR_NIB = ("(strpos('0123456789abcdef', "
             "substr(md5(token), {pos}, 1)) - 1)")
_DSIR_F = (f"((({_DSIR_NIB.format(pos=1)}) * 256"
           f" + ({_DSIR_NIB.format(pos=2)}) * 16"
           f" + ({_DSIR_NIB.format(pos=3)})) % 4096)")


@query(
    "doc_dsir_weights",
    sql=rf"""
        WITH toks AS (
            SELECT doc_id, source,
                   UNNEST(regexp_split_to_array(trim(text), '\s+'))
                       AS token
            FROM documents
        ), feats AS (
            SELECT doc_id, (source IN ('src0', 'src1')) AS tgt,
                   {_DSIR_F} AS f
            FROM toks WHERE token != ''
        ), pre AS (
            SELECT doc_id, tgt, f, CAST(COUNT(*) AS BIGINT) AS c
            FROM feats GROUP BY doc_id, tgt, f
        ), counts AS (
            SELECT f, CAST(SUM(c) AS BIGINT) AS c_raw,
                   CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END)
                        AS BIGINT) AS c_tgt
            FROM pre GROUP BY f
        ), totals AS (
            SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
                   CAST(SUM(c_tgt) AS BIGINT) AS t_tgt
            FROM counts
        ), llr AS (
            SELECT f,
                   ln((c_tgt + 0.5) / (t_tgt + 2048.0))
                   - ln((c_raw + 0.5) / (t_raw + 2048.0)) AS llr
            FROM counts CROSS JOIN totals
        )
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               ROUND(SUM(llr * c) + 1e-9, 6) AS log_weight
        FROM pre JOIN llr USING (f)
        GROUP BY doc_id
    """,
)
def doc_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (pipeline/curation.py
    dsir_importance_weights; Xie et al. 2023 'Data Selection with
    Importance Resampling'): hashed-unigram log-likelihood ratio of a
    designated target domain (sources src0/src1) vs the raw corpus,
    summed per document — the standard pretraining data-selection
    score (additive surface; no reference counterpart).  ONE corpus
    pass: the per-(doc, bucket) count exchange is reused by both the
    distribution aggregate (<= 4096 reduce groups, totals via a
    model-sized window) and the per-doc broadcast-join sum
    (map-side combine).  Feature hashing is 3 md5 nibbles, replayed
    nibble-by-nibble in the oracle; smoothing constants (alpha = 0.5,
    alpha*B = 2048) are exact halves so both engines divide identical
    doubles.  NOT memoized (r12 optimization round): every invocation
    re-runs the feature pass and the distribution fold from parquet;
    the persisted feature table lives only inside one invocation."""
    from xcube_spark.pipeline.curation import dsir_importance_weights

    docs = tbl(spark, sf_dir, "documents")
    out = dsir_importance_weights(
        docs, F.col("source").isin("src0", "src1"))
    return out.select(
        "doc_id", "n_tokens",
        F.round("log_weight", 6).alias("log_weight"))


def _det3_sql(a, b, c, d, e, f, g, h, i):
    """3x3 determinant SQL with the EXACT op order of
    pipeline.curation.linear_probe's det3 (bit-parity on identical
    double inputs)."""
    return (f"({a} * ({e} * {i} - {f} * {h}) "
            f"- {b} * ({d} * {i} - {f} * {g}) "
            f"+ {c} * ({d} * {h} - {e} * {g}))")


_PROBE_N = "CAST(n AS DOUBLE)"
_PROBE = {k: f"CAST({k} AS DOUBLE)"
          for k in ("s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")}
_PROBE_DET = _det3_sql(_PROBE_N, _PROBE["s1"], _PROBE["s2"],
                       _PROBE["s1"], _PROBE["s11"], _PROBE["s12"],
                       _PROBE["s2"], _PROBE["s12"], _PROBE["s22"])
_PROBE_B0 = _det3_sql(_PROBE["sy"], _PROBE["s1"], _PROBE["s2"],
                      _PROBE["s1y"], _PROBE["s11"], _PROBE["s12"],
                      _PROBE["s2y"], _PROBE["s12"], _PROBE["s22"])
_PROBE_B1 = _det3_sql(_PROBE_N, _PROBE["sy"], _PROBE["s2"],
                      _PROBE["s1"], _PROBE["s1y"], _PROBE["s12"],
                      _PROBE["s2"], _PROBE["s2y"], _PROBE["s22"])
_PROBE_B2 = _det3_sql(_PROBE_N, _PROBE["s1"], _PROBE["sy"],
                      _PROBE["s1"], _PROBE["s11"], _PROBE["s1y"],
                      _PROBE["s2"], _PROBE["s12"], _PROBE["s2y"])


#: the single-pass probe oracle — ALSO the oracle of the incremental
#: variant below (exact-integer moment merge == recomputation)
_PROBE_SQL = rf"""
        WITH feats AS (
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS y,
                   CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS x1,
                   CAST(length(text) - length(replace(text, 'a', ''))
                        AS BIGINT) AS x2
            FROM documents
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS BIGINT) AS s1,
                   CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                   CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                   CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                   CAST(SUM(x2 * y) AS BIGINT) AS s2y
            FROM feats
        ), coef AS (
            SELECT ({_PROBE_B0}) / ({_PROBE_DET}) AS b0,
                   ({_PROBE_B1}) / ({_PROBE_DET}) AS b1,
                   ({_PROBE_B2}) / ({_PROBE_DET}) AS b2
            FROM m
        ), pred AS (
            SELECT f.doc_id, f.y,
                   c.b0 + c.b1 * CAST(f.x1 AS DOUBLE)
                        + c.b2 * CAST(f.x2 AS DOUBLE) AS y_hat
            FROM feats f CROSS JOIN coef c
        )
        SELECT doc_id, y,
               ROUND(ROUND(y_hat + 1e-6, 4) + 0.0, 4) AS y_hat,
               ROUND(ROUND((CAST(y AS DOUBLE) - y_hat) + 1e-6, 4) + 0.0,
                     4) AS resid
        FROM pred
    """


@query("doc_quality_probe", sql=_PROBE_SQL)
def doc_quality_probe(spark, sf_dir):
    """One-scan distributed OLS probe (pipeline/curation.py
    linear_probe): regress n_chars on (token count, 'a'-char count)
    via normal-equation moments accumulated in ONE map-side-combined
    aggregate (each task emits 9 numbers), a closed-form 3x3 Cramer
    solve ON THE ONE-ROW MOMENT TABLE (Column math, no collect), and
    a broadcast-coefficient prediction pass — how a quality regressor
    trains over 100 TB with two scans and zero corpus shuffles
    (additive surface; no reference counterpart).  Features and label
    are integers, so every moment is an exact BIGINT sum and the
    double Cramer solve (op-order-matched in the oracle via
    _det3_sql) is bit-identical cross-engine."""
    from xcube_spark.pipeline.curation import linear_probe

    docs = tbl(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("y"),
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long").alias("x1"),
        (F.length("text")
         - F.length(F.expr("replace(text, 'a', '')")))
        .cast("long").alias("x2"),
    )
    out = linear_probe(feats, "y", "x1", "x2")
    # 1e-6 nudge: near-exact fits cluster resid at 0 and last-ulp
    # engine noise (DuckDB may FMA-contract the Cramer products)
    # straddles a 1e-9 nudge; + 0.0 normalizes IEEE -0.0
    return out.select(
        "doc_id", "y",
        F.round(F.round(F.col("y_hat") + 1e-6, 4) + 0.0, 4)
        .alias("y_hat"),
        F.round(F.round(F.col("resid") + 1e-6, 4) + 0.0, 4)
        .alias("resid"))


def _probe_feats(docs):
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("y"),
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long").alias("x1"),
        (F.length("text")
         - F.length(F.expr("replace(text, 'a', '')")))
        .cast("long").alias("x2"),
    )


@query("doc_incremental_probe", sql=_PROBE_SQL)
def doc_incremental_probe(spark, sf_dir):
    """Incrementally-trained OLS probe (pipeline/curation.py
    probe_moments/probe_merge/probe_fit_predict): the moment state is
    built over the 'already processed' corpus (doc_id < 400), a new
    batch is folded in with an O(batch) merge (2-row union
    aggregate), and predictions run against the merged coefficients.
    The oracle is the SINGLE-PASS probe over everything: passing
    means incremental training is value-identical to retraining —
    exact, not approximate, because every moment is an integer sum
    (associative/commutative), the growing-corpus training contract."""
    from xcube_spark.pipeline.curation import (probe_fit_predict,
                                               probe_merge, probe_moments)

    docs = tbl(spark, sf_dir, "documents")
    feats = _probe_feats(docs)
    cut = 400
    state = probe_moments(feats.where(F.col("doc_id") < cut),
                          "y", "x1", "x2")
    merged = probe_merge(state, feats.where(F.col("doc_id") >= cut),
                         "y", "x1", "x2")
    out = probe_fit_predict(merged, feats, "y", "x1", "x2")
    return out.select(
        "doc_id", "y",
        F.round(F.round(F.col("y_hat") + 1e-6, 4) + 0.0, 4)
        .alias("y_hat"),
        F.round(F.round(F.col("resid") + 1e-6, 4) + 0.0, 4)
        .alias("resid"))


@query(
    "doc_bm25_selfretrieval",
    sql=r"""
        WITH q AS (
            SELECT doc_id AS query_id,
                   array_to_string(
                       list_slice(regexp_split_to_array(trim(text),
                                                        '\s+'), 1, 8),
                       ' ') AS query_text
            FROM documents WHERE doc_id % 499 = 0
        ), qt AS (
            SELECT DISTINCT query_id,
                   UNNEST(regexp_split_to_array(trim(query_text),
                                                '\s+')) AS token
            FROM q
        ), qtok AS (
            SELECT query_id, token FROM qt WHERE token != ''
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(len(regexp_split_to_array(trim(text),
                                                      '\s+')))
                        AS BIGINT) AS tdl
            FROM documents
        ), toks AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS dl,
                   UNNEST(regexp_split_to_array(trim(text), '\s+'))
                       AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, dl, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks
            WHERE token != '' AND token IN (SELECT token FROM qtok)
            GROUP BY doc_id, dl, token
        ), dfreq AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY token
        ), scored AS (
            SELECT qtok.query_id, tf.doc_id,
                   ln(1.0 + (stats.n - dfreq.df + 0.5)
                      / (dfreq.df + 0.5))
                   * (tf.tf * CAST(2.2 AS DOUBLE))
                   / (tf.tf + CAST(1.2 AS DOUBLE)
                      * (0.25 + CAST(0.75 AS DOUBLE)
                         * tf.dl * stats.n / stats.tdl))
                       AS s
            FROM tf
            JOIN qtok USING (token)
            CROSS JOIN stats
            JOIN dfreq USING (token)
        ), agg AS (
            SELECT query_id, doc_id,
                   ROUND(SUM(s) + 1e-9, 6) AS score
            FROM scored GROUP BY query_id, doc_id
        ), ranked AS (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id)
                       AS rank
            FROM agg
        ), hits AS (
            SELECT query_id, rank FROM ranked
            WHERE rank <= 10 AND doc_id = query_id
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hit,
               ROUND((SELECT COALESCE(SUM(CAST(1.0 AS DOUBLE) / rank),
                                      0.0) FROM hits)
                     / (SELECT COUNT(*) FROM q) + 1e-9, 6) AS mrr
    """,
)
def doc_bm25_selfretrieval(spark, sf_dir):
    """Retrieval-quality evaluation: every doc_id % 499 == 0 document
    issues its own first-8-token excerpt as a query, and MRR@10
    measures whether BM25 finds the source document (pipeline/text.py
    bm25_topk — the knn_recall analog for the retrieval family; exact
    duplicates outranking the source via the doc_id tie-break are
    real signal on a replicated corpus).  The query set is
    corpus-size/101 — still broadcast-safe by the bm25 contract — and
    everything after the ranked candidate list is one |hits|-row
    aggregate; output is one row of exact counts plus the
    nudge-rounded MRR."""
    from xcube_spark.pipeline.text import bm25_topk

    docs = tbl(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") % 499 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8),
            " ").alias("query_text"))
    # collect the (broadcast-small) query set ONCE into a local
    # relation: bm25_topk reads the collected driver rows directly
    # (query_rows) instead of re-scanning documents, and the query
    # count inlines as an exact literal (removes the final scalar
    # BroadcastNestedLoopJoin) — r12 plan slimming
    q_rows = queries.collect()
    queries_local = spark.createDataFrame(
        q_rows, "query_id bigint, query_text string")
    res = bm25_topk(docs, queries_local, k=10,
                    query_rows=[(r["query_id"], r["query_text"])
                                for r in q_rows])
    hits = res.where(F.col("query_id") == F.col("doc_id"))
    n_q = len(q_rows)
    out = hits.agg(
        F.lit(n_q).cast("long").alias("n_queries"),
        F.count("*").alias("n_hit"),
        F.round(
            F.coalesce(F.sum(F.lit(1.0) / F.col("rank")), F.lit(0.0))
            / F.lit(n_q) + F.lit(1e-9), 6).alias("mrr"))
    # keep the bm25 result (and so its tie_cache_lifetime-persisted
    # candidate table) alive until THIS derived result is dropped —
    # otherwise the finalizer unpersists at fn return and the scoring
    # job re-tokenizes the corpus
    out._bm25_keepalive = res
    return out


@query(
    "doc_ngram_novelty",
    sql="""
        WITH toks AS (
            SELECT doc_id, lst[i + 1] AS tok, i AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS lst
                  FROM documents),
                 unnest(range(len(lst))) AS u(i)
        ), sh AS (
            SELECT DISTINCT a.doc_id,
                   a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
            FROM toks a
            JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        ), attr AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY shingle) AS first_id
            FROM sh
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(round(CAST(SUM(CASE WHEN first_id = doc_id
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / COUNT(*) + 1e-9, 6) + 0.0, 6) AS novelty
        FROM attr
        GROUP BY doc_id
    """,
)
def doc_ngram_novelty(spark, sf_dir):
    """ngram_novelty (pipeline/curation.py): per-document 3-gram
    novelty — the fraction of a document's distinct shingles whose
    corpus-wide first occurrence (min doc_id) is this document.  The
    "does this document add new content?" data-selection score:
    boilerplate/near-dup text scores ~0, fresh text ~1 — the
    corpus-level dual of the intra-document repetition gate.  ONE
    exchange: first-occurrence attribution is a window MIN over the
    shingle partitioning (no join-back shuffle); counts are exact
    integers and the ratio is a single deterministic IEEE division,
    nudge-rounded to 6."""
    from xcube_spark.pipeline.curation import ngram_novelty

    out = ngram_novelty(tbl(spark, sf_dir, "documents"), k=3)
    return out.select(
        "doc_id", "n_shingles", "n_novel",
        F.round(F.round(F.col("novelty") + 1e-9, 6) + 0.0, 6)
        .alias("novelty"))


def _textrank_sql(iters: int = 4, damping: float = 0.85,
                  dec: int = 7, top: int = 20) -> str:
    """Unrolled power-iteration twin of ``text.textrank_keywords``:
    one MATERIALIZED CTE per iteration (DuckDB's default inlining
    would re-expand the chain exponentially — the BPE lesson), every
    float expression in the same shape and on the same nudge-rounded
    grid as the Spark plan."""
    base = 1.0 - damping
    ctes = [
        r"""t AS MATERIALIZED (
            SELECT regexp_split_to_array(trim(text), '\s+') AS lst
            FROM documents
        )""",
        """pairs AS MATERIALIZED (
            SELECT lst[i + 1] AS a, lst[i + 2] AS b
            FROM t, unnest(range(len(lst) - 1)) AS u(i)
            WHERE len(lst) >= 2
        )""",
        """edges AS MATERIALIZED (
            SELECT u.a AS src, u.b AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM (SELECT a, b FROM pairs
                  UNION ALL SELECT b, a FROM pairs) u(a, b)
            GROUP BY u.a, u.b
        )""",
        """outw AS MATERIALIZED (
            SELECT src, CAST(SUM(w) AS BIGINT) AS ow
            FROM edges GROUP BY src
        )""",
        """norm AS MATERIALIZED (
            SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS f
            FROM edges e JOIN outw o USING (src)
        )""",
        "pr0 AS MATERIALIZED (SELECT DISTINCT src AS tok, 1.0 AS pr"
        " FROM norm)",
    ]
    for i in range(iters):
        ctes.append(
            f"""pr{i + 1} AS MATERIALIZED (
            SELECT norm.dst AS tok,
                   round((({base!r} + ({damping!r}
                          * round(SUM(norm.f * pr{i}.pr) + 1e-10,
                                  {dec}))) + 1e-10), {dec}) AS pr
            FROM norm JOIN pr{i} ON pr{i}.tok = norm.src
            GROUP BY norm.dst
        )""")
    return (
        "WITH " + ",\n        ".join(ctes) + f"""
        SELECT tok, ROUND(pr, {dec}) AS rank
        FROM pr{iters}
        ORDER BY pr DESC, tok
        LIMIT {top}
    """)


@query("doc_textrank_keywords", sql=_textrank_sql())
def doc_textrank_keywords(spark, sf_dir):
    """textrank_keywords_driver (pipeline/text.py): TextRank keyword
    extraction — PageRank over the token co-occurrence graph
    (undirected adjacency edges, weight = count), 4 fixed power
    iterations, top-20 by rank — with the model-fit-on-driver scale
    shape (bpe_train_merges_driver precedent): ONE distributed edge
    aggregate, vocabulary²-sized graph collected, iterations in
    Python on the same nudge-rounded 1e-7 grid (Decimal HALF_UP ==
    engine ROUND).  NOT memoized: every invocation re-runs the corpus
    edge aggregate + the fit (the r10 bench-integrity finding — a
    bench median must measure the query).  The fully-distributed
    iterative variant is pinned against the SAME oracle by
    doc_textrank_distributed."""
    from xcube_spark.pipeline.text import textrank_keywords_driver

    out = textrank_keywords_driver(tbl(spark, sf_dir, "documents"),
                                   iters=4, top=20)
    return out.select(
        F.col("tok"), F.round(F.col("rank"), 7).alias("rank"))


@query("doc_textrank_distributed", sql=_textrank_sql())
def doc_textrank_distributed(spark, sf_dir):
    """textrank_keywords (pipeline/text.py): the fully-DISTRIBUTED
    TextRank — each power iteration is a vocabulary-sized broadcast
    join + reduce on the persisted normalized edge table (the
    iterative-graph demonstration; for vocabularies beyond driver
    memory this is the scale path).  Same oracle as
    doc_textrank_keywords: per-iteration neighbor sums and damped
    updates nudge-round to 7 decimals on both engines, and the oracle
    unrolls the identical trajectory in MATERIALIZED CTEs — passing
    BOTH gates proves driver fit == cluster iteration == SQL, one
    trajectory on three execution engines."""
    from xcube_spark.pipeline.text import textrank_keywords

    out = textrank_keywords(tbl(spark, sf_dir, "documents"),
                            iters=4, top=20)
    return out.select(
        F.col("tok"), F.round(F.col("rank"), 7).alias("rank"))


@query(
    "doc_ccnet_buckets",
    sql=r"""
        WITH t AS (
            SELECT doc_id,
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
            FROM documents
        ), tri AS (
            SELECT doc_id, substring(s, i, 3) AS tri
            FROM t, unnest(range(1, length(s) - 1)) AS u(i)
        ), model AS (
            SELECT tri, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tri GROUP BY tri
        ), tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM model
        ), s AS (
            SELECT tri.doc_id,
                   COUNT(*) AS n_trigrams,
                   ROUND(AVG(-ln(m.cnt * 1.0 / tot.n)) + 1e-9, 6)
                       AS avg_nll
            FROM tri JOIN model m USING (tri), tot
            GROUP BY tri.doc_id
        ), q AS (
            SELECT ROUND(quantile_cont(avg_nll, 0.3333333333333333)
                         + 1e-9, 6) AS t1,
                   ROUND(quantile_cont(avg_nll, 0.6666666666666666)
                         + 1e-9, 6) AS t2
            FROM s
        )
        SELECT doc_id, n_trigrams, ROUND(avg_nll, 6) AS avg_nll,
               CASE WHEN avg_nll <= t1 THEN 'head'
                    WHEN avg_nll <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM s, q
    """,
)
def doc_ccnet_buckets(spark, sf_dir):
    """ccnet_buckets (pipeline/text.py): CCNet-style head/middle/tail
    stratification — every document scored by the corpus-trained
    trigram LM, corpus split at the 1/3 and 2/3 score quantiles (the
    quality-stratified sampling step before pretraining-data
    selection).  Thresholds are interpolated percentiles
    (Spark percentile == DuckDB quantile_cont) nudge-rounded onto the
    SAME 1e-6 grid as the scores, so threshold-exact documents bucket
    identically cross-engine.  Scale: trigram scoring is one corpus
    scan + model-sized broadcast; the thresholds are one 2-value
    scalar aggregate."""
    from xcube_spark.pipeline.text import ccnet_buckets

    out = ccnet_buckets(tbl(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_trigrams",
                      F.round(F.col("avg_nll"), 6).alias("avg_nll"),
                      "bucket")


@query(
    "doc_char_entropy",
    sql="""
        WITH ch AS (
            SELECT doc_id, UNNEST(string_split(text, '')) AS c
            FROM documents
        ), cnt AS (
            SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
            FROM ch WHERE c != '' GROUP BY doc_id, c
        )
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               ROUND(ROUND((ln(CAST(SUM(n) AS DOUBLE))
                            - SUM(n * ln(CAST(n AS DOUBLE))) / SUM(n))
                           + 1e-9, 6) + 0.0, 6) AS entropy
        FROM cnt
        GROUP BY doc_id
    """,
)
def doc_char_entropy(spark, sf_dir):
    """char_entropy (pipeline/text.py): per-document character
    Shannon entropy via H = ln(n) - (sum c*ln c)/n over exact integer
    counts — the randomness gate (degenerate repetition scores ~0,
    compressed/encrypted junk near ln(charset), natural text in a
    narrow band).  One (doc, char) map-side-combined shuffle + per-doc
    reduce; the only float sum is charset-bounded, absorbed by the
    nudged 6-decimal round."""
    from xcube_spark.pipeline.text import char_entropy

    out = char_entropy(tbl(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_chars", "n_distinct",
        F.round(F.round(F.col("entropy") + 1e-9, 6) + 0.0, 6)
        .alias("entropy"))


@query(
    "doc_winnowing",
    sql="""
        WITH t AS (
            SELECT doc_id, text,
                   greatest(length(text) - 4, 0) AS n_grams
            FROM documents
        ), g AS (
            SELECT doc_id, n_grams, u.i AS pos,
                   md5(substring(text, CAST(u.i + 1 AS INT), 5)) AS h
            FROM t, unnest(range(n_grams)) AS u(i)
        ), m AS (
            SELECT doc_id, n_grams, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                     AND 3 FOLLOWING) AS m
            FROM g
        ), sel AS (
            SELECT doc_id, n_grams, m
            FROM m WHERE pos <= n_grams - 4
        ), fp AS (
            SELECT doc_id, n_grams,
                   list_sort(list(DISTINCT m)) AS fps
            FROM sel GROUP BY doc_id, n_grams
        )
        SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
               CAST(len(fps) AS BIGINT) AS n_fingerprints,
               md5(array_to_string(fps, '|')) AS fp_digest
        FROM fp
    """,
)
def doc_winnowing(spark, sf_dir):
    """winnowing_fingerprints (pipeline/dedup.py): MOSS winnowing —
    md5 char 5-grams, keep each 4-window's minimum hash, digest the
    distinct selections.  The robust local-similarity fingerprint
    (any shared substring >= k+w-1 = 8 chars guarantees a shared
    fingerprint — the winnowing theorem), complementing the global
    sorted-token fingerprint and the minhash family.  ONE exchange
    (per-doc window sort); selection density ~1/w so downstream state
    is corpus/4-sized.  All string/integer — no float anywhere."""
    from xcube_spark.pipeline.dedup import winnowing_fingerprints

    return winnowing_fingerprints(tbl(spark, sf_dir, "documents"))


@query(
    "doc_zipf_slope",
    sql=r"""
        WITH freq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT UNNEST(regexp_split_to_array(trim(text),
                                                      '\s+')) AS tok
                  FROM documents)
            WHERE tok != ''
            GROUP BY tok
        ), head AS (
            SELECT ln(CAST(rank AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y
            FROM (SELECT freq,
                         ROW_NUMBER() OVER (ORDER BY freq DESC, tok)
                             AS rank
                  FROM freq)
            WHERE rank <= 100
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                           / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                           + 1e-9, 6) + 0.0, 6) AS slope,
               ROUND(ROUND((SUM(y) - (COUNT(*) * SUM(x * y)
                                      - SUM(x) * SUM(y))
                            / (COUNT(*) * SUM(x * x)
                               - SUM(x) * SUM(x)) * SUM(x))
                           / COUNT(*) + 1e-9, 6) + 0.0, 6)
                   AS intercept
        FROM head
    """,
)
def doc_zipf_slope(spark, sf_dir):
    """zipf_slope (pipeline/text.py): corpus Zipf exponent — OLS of
    ln(freq) on ln(rank) over the top-100 tokens (natural corpora sit
    near -1; flat = templated text, cliff = vocabulary collapse).
    One map-side-combined token-count shuffle + a 100-row ranked head
    + closed-form 2x2 OLS on that head; sums over exactly 100 O(10)
    values keep cross-engine noise ~1e-14, absorbed by the nudged
    6-decimal round."""
    from xcube_spark.pipeline.text import zipf_slope

    out = zipf_slope(tbl(spark, sf_dir, "documents"), top=100)
    return out.select(
        "n_tokens",
        F.round(F.round(F.col("slope") + 1e-9, 6) + 0.0, 6)
        .alias("slope"),
        F.round(F.round(F.col("intercept") + 1e-9, 6) + 0.0, 6)
        .alias("intercept"))


@query(
    "doc_pmi_collocations",
    sql=r"""
        WITH lst AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS ts
            FROM documents
        ), toks AS (
            SELECT doc_id, unnest(ts) AS tok FROM lst
        ), uni AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY tok
        ), bi AS (
            SELECT ts[i] AS a, ts[i + 1] AS b,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM lst, unnest(range(1, len(ts))) AS u(i)
            GROUP BY 1, 2
        ), totals AS (
            SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_tok,
                   (SELECT CAST(SUM(c_ab) AS BIGINT) FROM bi)
                       AS n_pairs
        ), scored AS (
            SELECT bi.a, bi.b, bi.c_ab,
                   ROUND(ROUND(ln(
                       (CAST(bi.c_ab AS DOUBLE) / t.n_pairs)
                       / ((CAST(ua.c AS DOUBLE) / t.n_tok)
                          * (CAST(ub.c AS DOUBLE) / t.n_tok)))
                       + 1e-9, 6) + 0.0, 6) AS pmi
            FROM bi
            JOIN uni ua ON ua.tok = bi.a
            JOIN uni ub ON ub.tok = bi.b
            CROSS JOIN totals t
            WHERE bi.c_ab >= 5
        )
        SELECT rank, a, b, c_ab, pmi FROM (
            SELECT a, b, c_ab, pmi,
                   ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b)
                       AS rank
            FROM scored
        ) WHERE rank <= 50
    """,
)
def doc_pmi_collocations(spark, sf_dir):
    """pmi_cooccurrence (pipeline/text.py): pointwise mutual
    information over adjacent token bigrams — the Church & Hanks
    collocation detector; high-PMI pairs are phrases, and PMI shifts
    flag template/boilerplate domination in a curation pipeline.
    Counts are exact BIGINTs; ln may differ by an ulp cross-engine so
    the top-50 ranking runs on the GRID-ROUNDED statistic with
    (a, b) tie-breaks.  One tokenize pass, two partial-agg reduces,
    broadcast marginal joins, one single-row totals state."""
    from xcube_spark.pipeline.text import pmi_cooccurrence

    out = pmi_cooccurrence(tbl(spark, sf_dir, "documents"),
                           top=50, min_count=5)
    return out.select("rank", "a", "b", "c_ab",
                      F.round(F.round(F.col("pmi") + 1e-9, 6)
                              + 0.0, 6).alias("pmi"))


def _cdc_sql(hash_window: int = 16, divisor: int = 64) -> str:
    """SQL twin of pipeline.dedup.cdc_chunk_spans/cdc_dedup_stats —
    the identical per-char gear terms (exact BIGINT), identical
    unrolled LAG fold, identical high-bit cut threshold."""
    hw = hash_window
    mod = 1 << 32
    thresh = mod // divisor
    terms = ["gv"] + [f"LAG(gv, {i}) OVER w * {1 << i}"
                      for i in range(1, hw)]
    hsum = terms[0]
    for t in terms[1:]:
        hsum = f"({hsum} + {t})"
    return f"""
        WITH g AS (
            -- aligned unnests zip: one g-row per char position, the
            -- document text itself is NOT carried per position
            SELECT doc_id, length(text) AS len,
                   CAST(unnest(range(1, length(text) + 1)) AS BIGINT)
                       AS pos,
                   unnest(list_transform(
                       string_split(text, ''),
                       c -> (ascii(c) * 2654435761) % {mod})) AS gv
            FROM documents WHERE length(text) >= 1
        ), cuts AS (
            SELECT doc_id, pos
            FROM (
                SELECT doc_id, len, pos,
                       ({hsum}) % {mod} AS hv
                FROM g
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            )
            WHERE (pos >= {hw} AND hv < {thresh}) OR pos = len
        ), spans AS (
            SELECT doc_id, pos AS e,
                   COALESCE(LAG(pos) OVER (PARTITION BY doc_id
                                           ORDER BY pos) + 1, 1) AS s
            FROM cuts
        ), ch AS (
            SELECT d.source,
                   md5(substr(d.text, CAST(sp.s AS INT),
                              CAST(sp.e - sp.s + 1 AS INT))) AS h,
                   sp.e - sp.s + 1 AS l
            FROM spans sp JOIN documents d USING (doc_id)
        ), per AS (
            SELECT source, h, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(MIN(l) AS BIGINT) AS l
            FROM ch GROUP BY source, h
        ), stats AS (
            SELECT source,
                   CAST(SUM(cnt) AS BIGINT) AS n_chunks,
                   CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
                   CAST(SUM(cnt * l) AS BIGINT) AS chars_total,
                   CAST(SUM(l) AS BIGINT) AS chars_unique
            FROM per GROUP BY source
        )
        SELECT source, n_chunks, n_unique_chunks,
               chars_total, chars_unique,
               ROUND(ROUND(CAST(1.0 AS DOUBLE)
                           - CAST(chars_unique AS DOUBLE)
                             / chars_total + 1e-9, 6) + 0.0, 6)
                   AS dedup_ratio,
               ROUND(ROUND(CAST(chars_total AS DOUBLE)
                           / n_chunks + 1e-9, 6) + 0.0, 6)
                   AS mean_chunk_len
        FROM stats
    """


@query("doc_cdc_chunks", sql=_cdc_sql())
def doc_cdc_chunks(spark, sf_dir):
    """cdc_dedup_stats (pipeline/dedup.py): content-defined chunking
    dedup accounting per source — gear rolling hash over the trailing
    16 chars (one exact-BIGINT multiply per char, the EMA unrolled-lag
    shape), cut where the hash's HIGH bits clear (expected chunk 64
    chars; a low-bit mask would see only the newest 6 chars) and at
    end-of-document, then content-addressed chunk-store accounting:
    chunks, distinct chunks, chars kept, dedup ratio.  The
    storage-dedup primitive applied to text: boundaries move WITH
    content, so shared boilerplate dedups across documents that
    differ elsewhere.  One char-explode + one (doc, pos) exchange for
    the lags, cut rows collapse to a per-doc array, text is sliced
    ONCE per chunk — never duplicated per position."""
    from xcube_spark.pipeline.dedup import cdc_dedup_stats

    out = cdc_dedup_stats(tbl(spark, sf_dir, "documents"),
                          group_col="source",
                          hash_window=16, divisor=64)
    r6 = lambda c: F.round(F.round(c + 1e-9, 6) + 0.0, 6)  # noqa: E731
    return out.select(
        "source", "n_chunks", "n_unique_chunks", "chars_total",
        "chars_unique",
        r6(F.col("dedup_ratio")).alias("dedup_ratio"),
        r6(F.col("mean_chunk_len")).alias("mean_chunk_len"))


@query(
    "doc_block_dedup",
    sql=r"""
        WITH lst AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS ts
            FROM documents
        ), blocks AS (
            SELECT doc_id, CAST(i AS INT) AS bidx,
                   array_to_string(
                       ts[i * 16 + 1 : least((i + 1) * 16, len(ts))],
                       ' ') AS block
            FROM lst,
                 unnest(range(CAST(ceil(len(ts) / 16.0) AS BIGINT)))
                     AS u(i)
        ), h AS (
            SELECT doc_id, bidx, md5(block) AS h
            FROM blocks WHERE block != ''
        ), attr AS (
            SELECT doc_id, bidx,
                   MIN(struct_pack(d := doc_id, i := bidx))
                       OVER (PARTITION BY h) AS f
            FROM h
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN f.d != doc_id OR f.i != bidx
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_blocks,
               ROUND(ROUND(CAST(SUM(CASE WHEN f.d != doc_id
                                         OR f.i != bidx
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / COUNT(*) + 1e-9, 6) + 0.0, 6)
                   AS dup_fraction
        FROM attr GROUP BY doc_id
    """,
)
def doc_block_dedup(spark, sf_dir):
    """block_dedup_stats (pipeline/dedup.py): paragraph/block-level
    exact dedup — every 16-token block md5-hashed and attributed to
    its corpus-wide first occurrence (lexicographic (doc, position)
    min over the hash partition); per-doc duplicated-block fraction.
    The dedup granularity between whole-document exact dedup and
    character-span substring dedup (the RefinedWeb-style block
    discipline).  One narrow block explode + ONE window-min exchange
    on the uniform hash key + a map-side-combined per-doc reduce."""
    from xcube_spark.pipeline.dedup import block_dedup_stats

    out = block_dedup_stats(tbl(spark, sf_dir, "documents"),
                            block_tokens=16)
    return out.select(
        "doc_id", "n_blocks", "n_dup_blocks",
        F.round(F.round(F.col("dup_fraction") + 1e-9, 6) + 0.0, 6)
        .alias("dup_fraction"))


@query(
    "doc_incremental_block_dedup",
    sql=r"""
        WITH lst AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS ts
            FROM documents
        ), blocks AS (
            SELECT doc_id, CAST(i AS INT) AS bidx,
                   array_to_string(
                       ts[i * 16 + 1 : least((i + 1) * 16, len(ts))],
                       ' ') AS block
            FROM lst,
                 unnest(range(CAST(ceil(len(ts) / 16.0) AS BIGINT)))
                     AS u(i)
        ), state AS (
            SELECT md5(block) AS h,
                   MIN(struct_pack(d := doc_id, i := bidx)) AS f,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM blocks WHERE block != ''
            GROUP BY md5(block)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hashes,
               CAST(SUM(n_copies) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_hashes,
               CAST(SUM(f.d) AS BIGINT) AS sum_first_doc,
               CAST(SUM(f.i) AS BIGINT) AS sum_first_idx
        FROM state
    """,
)
def doc_incremental_block_dedup(spark, sf_dir):
    """incremental_block_dedup (pipeline/dedup.py): the block-dedup
    state merged over TWO id-ordered batches must equal the one-shot
    single-pass state — struct-min first occurrences and additive copy
    counts are order-insensitive, so the merge is value-identical to
    recomputing over the concatenated corpus (the incremental contract
    of the sketch/probe family at the paragraph granularity).  The
    oracle computes the single-pass state; output is the exact-integer
    state summary (hash count, block count, dup-hash count, and the
    first-occurrence checksums that pin attribution content)."""
    from xcube_spark.pipeline.dedup import (block_dedup_state,
                                            incremental_block_dedup)

    docs = tbl(spark, sf_dir, "documents")
    state = block_dedup_state(docs.where(F.col("doc_id") < 250))
    merged = incremental_block_dedup(state,
                                     docs.where(F.col("doc_id") >= 250))
    return merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.sum("n_copies").cast("long").alias("n_blocks"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("long").alias("n_dup_hashes"),
        F.sum("first_doc").cast("long").alias("sum_first_doc"),
        F.sum("first_idx").cast("long").alias("sum_first_idx"))
