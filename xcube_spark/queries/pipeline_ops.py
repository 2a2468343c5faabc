"""Pipeline-extension coverage queries: compute-UDF, language ID,
quality scoring, SimHash near-dups, LSH similarity search, embedding
near-dup pairs, multimodal payload metadata and byte-histogram
features.  Oracle SQL for the hash-heavy operators is *generated* by
the same Python loops that build the Column expressions — both engines
state the algorithm once, structurally."""

from __future__ import annotations

from pyspark.sql import functions as F

from xcube_spark.pipeline.dedup import simhash_near_dup_pairs
from xcube_spark.pipeline.multimodal import attach_payload, byte_histogram
from xcube_spark.pipeline.similarity import (
    _hyperplanes,
    embedding_near_dup_pairs,
    knn_lsh,
)
from xcube_spark.pipeline.text import STOPWORDS, language_id, quality_score
from xcube_spark.queries import query, tbl


# ---- compute-UDF (SURVEY §2.9) ----------------------------------------


@query(
    "cube_compute_udf",
    sql=None,  # placeholder replaced below (uses cube CTE)
)
def cube_compute_udf(spark, sf_dir):
    """compute_dataset (compute.py:28-365): user numpy cube_func
    ``D = A * 2 + 0.5`` applied chunk-parallel via applyInPandas."""
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.compute import compute_dataset
    from xcube_spark.queries.cube_ops import GRID, SPARK_VARS

    cube = new_cube(spark, GRID, variables=SPARK_VARS).select(
        "t_i", "y_i", "x_i", "time", "y", "x", "A"
    )

    def cube_func(a, coords):
        return a * 2.0 + 0.5

    out = compute_dataset(cube_func, cube, grid=GRID, var_name="D",
                          input_var_names=["A"])
    return out.select("t_i", "y_i", "x_i", F.round("D", 6).alias("D"))


def _fix_compute_sql():
    from xcube_spark.queries import REGISTRY
    from xcube_spark.queries.cube_ops import CUBE_CTE

    REGISTRY["cube_compute_udf"].sql = f"""
        {CUBE_CTE}
        SELECT t_i, y_i, x_i, ROUND(A * 2.0 + 0.5, 6) AS D FROM cube
    """


_fix_compute_sql()


# ---- text: language id + quality --------------------------------------


def _sw_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


_LANG_SCORES = ",\n".join(
    f"len(list_filter(toks, t -> t IN ({_sw_list(lang)}))) AS s_{lang}"
    for lang in STOPWORDS
)
_LANG_GUESS = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
        for lang in STOPWORDS
    )
    + " ELSE 'und' END"
)


@query(
    "doc_language_id",
    sql=rf"""
        WITH toks AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, {_LANG_SCORES}
            FROM toks
        ), best AS (
            SELECT doc_id, lang,
                   greatest(s_en, s_fr, s_de, s_es) AS best,
                   s_en, s_fr, s_de, s_es
            FROM scored
        )
        SELECT lang, {_LANG_GUESS} AS lang_guess, COUNT(*) AS n
        FROM best
        GROUP BY 1, 2
    """,
)
def doc_language_id(spark, sf_dir):
    """language_id (pipeline/text.py): stopword-hit argmax, confusion
    matrix against the table's true lang label."""
    out = language_id(tbl(spark, sf_dir, "documents"))
    return out.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n"))


@query(
    "doc_quality_score",
    sql=r"""
        WITH f AS (
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+'))
                       AS n_tokens,
                   length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
                       / greatest(length(text), 1) AS punct_ratio,
                   len(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t IN ('the','a','of','and','to','in','is',
                                  'that','it','for')))
                       / greatest(len(regexp_split_to_array(
                                      lower(trim(text)), '\s+')),
                                  1) AS sw_ratio
            FROM documents
        )
        SELECT doc_id,
               ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
                   least(n_tokens / 100.0, 1.0) * 0.4
                   + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
                   + least(sw_ratio * 5.0, 1.0) * 0.3
               END, 6) AS quality
        FROM f
    """,
)
def doc_quality_score(spark, sf_dir):
    """quality_score (pipeline/text.py): Gopher/C4-style heuristics —
    token count, punctuation soup, stopword presence."""
    out = quality_score(tbl(spark, sf_dir, "documents"))
    return out.select("doc_id", F.round("quality", 6).alias("quality"))


# ---- simhash near-dups (generated SQL twin) ---------------------------

_NIBBLE = "strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1"
_VOTES = ",\n".join(
    "SUM(CASE WHEN (({nib}) & {bit}) != 0 THEN 1 ELSE -1 END) AS v{i}".format(
        nib=_NIBBLE.format(pos=n + 1), bit=1 << b, i=n * 4 + b
    )
    for n in range(16)
    for b in range(4)
)
# bit 63 of a signed 64-bit fingerprint carries value -2^63
_ACC = " + ".join(
    f"CASE WHEN v{i} > 0 THEN CAST({(1 << i) if i < 63 else -(1 << 63)} "
    f"AS BIGINT) ELSE 0 END"
    for i in range(64)
)


@query(
    "doc_simhash_pairs",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE length(tok) > 0
        ), hashed AS (
            SELECT doc_id, md5(tok) AS h FROM toks
        ), votes AS (
            SELECT doc_id, {_VOTES}
            FROM hashed GROUP BY doc_id
        ), sig AS (
            SELECT doc_id, {_ACC} AS simhash FROM votes
        ), chunks AS (
            SELECT doc_id, simhash, c.chunk,
                   (simhash >> (c.chunk * 16)) & 65535 AS key
            FROM sig, (SELECT unnest([0, 1, 2, 3]) AS chunk) c
        ), capped AS (
            -- skew guard: mirrors dedup.DEFAULT_MAX_BUCKET_SIZE
            SELECT doc_id, simhash, chunk, key FROM chunks
            QUALIFY COUNT(*) OVER (PARTITION BY chunk, key) <= 1000
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sig_a, b.simhash AS sig_b
            FROM capped a JOIN capped b
              ON a.chunk = b.chunk AND a.key = b.key
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               bit_count(xor(sig_a, sig_b)) AS hamming
        FROM pairs
        WHERE bit_count(xor(sig_a, sig_b)) <= 6
    """,
)
def doc_simhash_pairs(spark, sf_dir):
    """simhash_near_dup_pairs (pipeline/dedup.py): 64-bit md5-vote
    SimHash, 16-bit-chunk pigeonhole buckets, exact Hamming verify.
    The oracle runs the identical bit algebra generated by the same
    Python loops."""
    return simhash_near_dup_pairs(tbl(spark, sf_dir, "documents"),
                                  max_hamming=6)


# ---- embedding LSH: approximate knn + near-dup pairs ------------------

_PLANES = _hyperplanes(64, 8, seed=42)


def _bucket_sql(vec: str) -> str:
    terms = []
    for b, p in enumerate(_PLANES):
        lits = ", ".join(repr(x) for x in p)
        terms.append(
            f"CASE WHEN list_dot_product({vec}, [{lits}]) >= 0 "
            f"THEN {1 << b} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "emb_knn_lsh",
    sql=f"""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, bucket FROM c
            WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   list_dot_product(c.v, q.qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS cos
            FROM c JOIN q USING (bucket)
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
def emb_knn_lsh(spark, sf_dir):
    """knn_lsh (pipeline/similarity.py): single-probe sign-sketch LSH —
    each corpus vector lands in exactly one bucket (the scale path next
    to the brute-force baseline emb_knn_cosine)."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_lsh(emb, queries, k=10)
    return out.select("query_id", "vec_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@query(
    "emb_near_dup_pairs",
    sql=f"""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS cos
            FROM c a JOIN c b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, ROUND(cos, 6) AS cosine
        FROM pairs WHERE cos >= 0.3
    """,
)
def emb_near_dup_pairs(spark, sf_dir):
    """embedding_near_dup_pairs: LSH bucket self-join + cosine-threshold
    verify — embedding-space near-duplicate detection (threshold tuned
    to the synthetic corpus, whose max pairwise cosine is ~0.49)."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = embedding_near_dup_pairs(emb, threshold=0.3)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(
    "emb_semdedup",
    sql="""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cents AS (
            SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 8
        ), assigned AS (
            SELECT vec_id, v,
                   arg_min(cid, list_distance(v, cv)) AS cell
            FROM c, cents
            GROUP BY vec_id, v
        ), aa0 AS (
            SELECT a.vec_id, a.v, a.cell,
                   list_dot_product(a.v, ct.cv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(ct.cv, ct.cv))) AS cent_sim
            FROM assigned a JOIN cents ct ON a.cell = ct.cid
        ), aa AS (
            -- skew cap twin: deterministic sub-bucket of size 10000
            SELECT *, (ROW_NUMBER() OVER (PARTITION BY cell
                       ORDER BY cent_sim, vec_id) - 1) // 10000 AS sub
            FROM aa0
        ), dups AS (
            SELECT DISTINCT x.vec_id
            FROM aa x JOIN aa y
              ON x.cell = y.cell AND x.sub = y.sub
              AND x.vec_id != y.vec_id
            WHERE list_dot_product(x.v, y.v)
                  / (sqrt(list_dot_product(x.v, x.v))
                     * sqrt(list_dot_product(y.v, y.v))) >= 0.25
              AND (y.cent_sim < x.cent_sim
                   OR (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id))
        )
        SELECT aa.vec_id, cell, ROUND(cent_sim, 6) AS cent_sim,
               aa.vec_id IN (SELECT vec_id FROM dups) AS is_dup
        FROM aa
    """,
)
def emb_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) — semantic dedup by k-means cell +
    within-cell cosine, keeping the lowest-centroid-similarity member
    of each near-dup pair (pipeline/similarity.py semdedup).  Fixed
    seed centroids (vec_id < 8, like the IVF oracle family) keep the
    clustering restateable in SQL; 0.25 threshold tuned to the
    synthetic corpus (max pairwise cosine ~0.49).  All pair work is
    cell-confined — no corpus cartesian."""
    from xcube_spark.pipeline.similarity import semdedup

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.where(F.col("vec_id") < 8)
    out = semdedup(emb, cents, threshold=0.25)
    return out.select("vec_id", "cell",
                      F.round("cent_sim", 6).alias("cent_sim"), "is_dup")


# ---- multimodal -------------------------------------------------------


@query(
    "doc_multimodal_meta",
    sql="""
        SELECT doc_id,
               length(text) AS byte_len,
               md5(text) AS digest
        FROM documents
    """,
)
def doc_multimodal_meta(spark, sf_dir):
    """attach_payload (pipeline/multimodal.py): binary payload + typed
    metadata struct.  The corpus is ASCII, so byte length == char
    length and md5(utf8 bytes) == DuckDB's md5(text)."""
    mm = attach_payload(tbl(spark, sf_dir, "documents"))
    return mm.select("doc_id",
                     F.col("meta.byte_len").alias("byte_len"),
                     F.col("meta.digest").alias("digest"))


_BIN_SUMS = ",\n".join(
    "SUM(length(regexp_replace(text, '[^\\x{lo:02x}-\\x{hi:02x}]', '', 'g')))"
    " AS bin_{b}".format(lo=b * 16, hi=b * 16 + 15, b=b)
    for b in range(8)
)
_BIN_ROWS = " UNION ALL ".join(
    f"SELECT {b} AS bin, CAST(COALESCE(bin_{b}, 0) AS BIGINT) AS total FROM s"
    for b in range(8)
)


@query(
    "doc_byte_histogram",
    sql=f"""
        WITH s AS (
            SELECT {_BIN_SUMS}
            FROM documents
        )
        {_BIN_ROWS}
    """,
)
def doc_byte_histogram(spark, sf_dir):
    """byte_histogram (pipeline/multimodal.py): mapInPandas numpy
    feature extraction over the binary column; corpus-level per-bin
    totals cross-check the Arrow path against SQL character-class
    counts (ASCII corpus: bytes == chars; bins 8..15 are empty and
    excluded from both sides)."""
    mm = attach_payload(tbl(spark, sf_dir, "documents"))
    hist = byte_histogram(mm, bins=16)
    return (
        hist.select(F.posexplode("hist").alias("bin", "cnt"))
        .where(F.col("bin") < 8)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("total"))
    )


@query(
    "doc_image_decode",
    sql="""
        SELECT doc_id,
               32 AS width,
               CAST(greatest(1, ceil(length(text) / 32.0)) AS INT)
                   AS height,
               1 AS channels,
               CAST(list_sum(list_transform(string_split(text, ''),
                                            c -> ascii(c)))
                    + (CAST(greatest(1, ceil(length(text) / 32.0))
                            AS BIGINT) * 32 - length(text)) * 32
                    AS BIGINT) AS pixel_sum
        FROM documents
    """,
)
def doc_image_decode(spark, sf_dir):
    """REAL image decode, library-free (sources/png.py): text bytes ->
    grayscale PNG via the from-scratch encoder (adaptive per-row
    filters, zlib IDAT) -> the from-scratch baseline decoder (all 5
    filters, CRC-checked) -> exact pixel sum.  The oracle recomputes
    the padded pixel sum straight from the characters (ASCII corpus:
    bytes == ascii codes; pad byte 32 fills the last row), so any
    decode defect — filter math, stride, padding, IDAT reassembly —
    hash-fails.  Scale: both codec hops are Arrow-batched mapInPandas
    over the payload partitioning; no driver round-trip (the
    image-preprocessing stage of a multimodal training pipeline)."""
    from xcube_spark.pipeline.multimodal import (
        decode_image, encode_payload_png)

    mm = encode_payload_png(attach_payload(tbl(spark, sf_dir, "documents")),
                            width=32, pad_byte=32)
    dec = decode_image(mm)
    return dec.select(
        "doc_id", "width", "height", "channels",
        F.round(F.col("mean_byte") * F.col("width") * F.col("height"))
        .cast("bigint").alias("pixel_sum"))


@query(
    "doc_frame_sample",
    sql="""
        WITH d AS (
            SELECT doc_id, length(text) AS n_bytes,
                   CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames
            FROM documents
        )
        SELECT doc_id,
               CAST(ceil(n_frames / 3.0) AS BIGINT) AS n_kept,
               CAST((n_frames - 1) - ((n_frames - 1) % 3)
                    AS BIGINT) AS last_idx,
               CAST(least(64, n_bytes) AS BIGINT) AS first_frame_len
        FROM d
    """,
)
def doc_frame_sample(spark, sf_dir):
    """sample_frames (pipeline/multimodal.py): video-style frame
    sampling over binary payloads — each payload splits into 64-byte
    pseudo-frames and every 3rd is kept (one input row fans out to
    many frame rows inside the Arrow batch, the explode shape a real
    codec would feed).  The oracle recomputes kept-frame count, last
    kept index, and the first frame's byte length from the text
    length alone — exact integers, no float path."""
    from xcube_spark.pipeline.multimodal import sample_frames

    mm = attach_payload(tbl(spark, sf_dir, "documents"))
    frames = sample_frames(mm, frame_bytes=64, every_n=3)
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.max("frame_idx").cast("long").alias("last_idx"),
        F.max(F.when(F.col("frame_idx") == 0,
                     F.octet_length("frame"))).cast("long")
        .alias("first_frame_len"))


@query(
    "doc_image_resize",
    sql="""
        WITH d AS (
            SELECT doc_id, text,
                   CAST(greatest(1, ceil(length(text) / 32.0))
                        AS BIGINT) AS h
            FROM documents
        ), g AS (
            -- fixed series (lateral bounds unsupported) filtered per
            -- doc; 512 rows covers texts to 64 KiB
            SELECT d.doc_id, d.text, d.h, r.r, c.c
            FROM d, generate_series(0, 511) r(r),
                 generate_series(0, 7) c(c)
            WHERE r.r < ceil(d.h / 4.0)
        )
        SELECT doc_id,
               8 AS width,
               CAST(ceil(any_value(h) / 4.0) AS INT) AS height,
               1 AS channels,
               CAST(SUM(CASE WHEN (r * 4) * 32 + c * 4 + 1
                                  <= length(text)
                             THEN ascii(substr(text,
                                        CAST((r * 4) * 32 + c * 4 + 1
                                             AS INT), 1))
                             ELSE 32 END) AS BIGINT) AS pixel_sum
        FROM g
        GROUP BY doc_id
    """,
)
def doc_image_resize(spark, sf_dir):
    """resize_image (pipeline/multimodal.py): REAL PNG decode ->
    nearest-neighbor 4x downscale (strided pixel pick) -> REAL PNG
    re-encode -> decode again for stats — two full trips through the
    from-scratch codec per document.  The oracle recomputes the
    strided sample directly from the characters (sampled pixel (r, c)
    = byte at position 128r + 4c, pad 32 past the text), so a defect
    in either codec direction or the stride hash-fails.  Scale: both
    hops are Arrow-batched mapInPandas; payloads never visit the
    driver."""
    from xcube_spark.pipeline.multimodal import (
        decode_image, encode_payload_png, resize_image)

    mm = encode_payload_png(attach_payload(tbl(spark, sf_dir, "documents")),
                            width=32, pad_byte=32)
    dec = decode_image(resize_image(mm, factor=4))
    return dec.select(
        "doc_id", "width", "height", "channels",
        F.round(F.col("mean_byte") * F.col("width") * F.col("height"))
        .cast("bigint").alias("pixel_sum"))


#: unrolled left-associated squared-L2 between codes[] and a centroid
#: list c[] — the SAME IEEE op sequence as ivf_assign's zip_with +
#: left fold (acc starts 0.0), so per-pair d2 is bit-identical
def _kmeans_d2_sql(x: str, c: str, dim: int = 64) -> str:
    terms = [f"({x}[{i}] - {c}[{i}]) * ({x}[{i}] - {c}[{i}])"
             for i in range(1, dim + 1)]
    expr = "(0.0 + " + terms[0] + ")"
    for t in terms[1:]:
        expr = f"({expr} + {t})"
    return expr


_KM_D2_C0 = _kmeans_d2_sql("v.codes", "c0.codes")
_KM_D2_C1 = _kmeans_d2_sql("v.codes", "c1.cent")
_KM_D2_C2 = _kmeans_d2_sql("v.codes", "c2.cent")
_KM_CENT_SUM = "(0.0 + " + " + ".join(
    f"cent[{i}]" for i in range(1, 65)) + ")"


@query(
    "emb_kmeans",
    sql=f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings
        ), v AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(
                       emb, x -> round(
                           x / (list_max(list_transform(
                                    emb, y -> abs(y))) / 127.0)))
                       AS codes
            FROM e
        ), c0 AS MATERIALIZED (
            SELECT vec_id AS cid, codes FROM v WHERE vec_id < 4
        ), a1 AS MATERIALIZED (
            SELECT v.vec_id, v.codes,
                   min(struct_pack(d := {_KM_D2_C0},
                                   cid := c0.cid)).cid AS cid
            FROM v, c0
            GROUP BY v.vec_id, v.codes
        ), c1 AS MATERIALIZED (
            SELECT cid, list(m ORDER BY i) AS cent
            FROM (
                SELECT a1.cid, s.i, avg(a1.codes[s.i]) AS m
                FROM a1, generate_series(1, 64) s(i)
                GROUP BY a1.cid, s.i
            )
            GROUP BY cid
        ), a2 AS MATERIALIZED (
            SELECT v.vec_id, v.codes,
                   min(struct_pack(d := {_KM_D2_C1},
                                   cid := c1.cid)).cid AS cid
            FROM v, c1
            GROUP BY v.vec_id, v.codes
        ), c2 AS MATERIALIZED (
            SELECT cid, list(m ORDER BY i) AS cent
            FROM (
                SELECT a2.cid, s.i, avg(a2.codes[s.i]) AS m
                FROM a2, generate_series(1, 64) s(i)
                GROUP BY a2.cid, s.i
            )
            GROUP BY cid
        ), a3 AS MATERIALIZED (
            SELECT v.vec_id,
                   min(struct_pack(d := {_KM_D2_C2},
                                   cid := c2.cid)).cid AS cid,
                   min(struct_pack(d := {_KM_D2_C2},
                                   cid := c2.cid)).d AS d2
            FROM v, c2
            GROUP BY v.vec_id
        )
        SELECT a3.cid,
               CAST(count(*) AS BIGINT) AS n_members,
               ROUND(ROUND(avg(a3.d2) + 1e-6, 4) + 0.0, 4) AS mean_d2,
               ROUND(ROUND(any_value({_KM_CENT_SUM}) + 1e-6, 4) + 0.0, 4)
                   AS cent_sum
        FROM a3 JOIN c2 ON a3.cid = c2.cid
        GROUP BY a3.cid
    """,
)
def emb_kmeans(spark, sf_dir):
    """train_ivf_centroids + ivf_assign (pipeline/similarity.py):
    distributed Lloyd k-means — deterministic init (k lowest-id
    vectors), fixed 2 iterations, broadcast-centroid assignment
    (min_by argmin, zero corpus shuffle) and per-(cell, dim)
    partial-agg means with a model-sized driver round-trip between
    iterations.  Vectors are int8-quantized first so every partial
    sum and centroid mean is INTEGER-exact cross-engine; per-pair d2
    is the same left-to-right fold on both engines (unrolled in the
    oracle), and only the final mean_d2/cent_sum — float sums across
    rows — ride on the nudged 4-decimal round.  The reference has no
    clustering op; this is the trainer behind the IVF/SemDeDup
    centroids (additive surface like the knn family)."""
    from xcube_spark.pipeline.similarity import train_ivf_centroids

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    codes = emb.select(
        "vec_id", "e",
        (F.array_max(F.transform("e", lambda x: F.abs(x)))
         / F.lit(127.0)).alias("scale"),
    ).select(
        "vec_id",
        F.transform("e", lambda x: F.round(x / F.col("scale")))
        .alias("embedding"),
    )
    from xcube_spark.pipeline.similarity import _d2_unrolled

    cents = train_ivf_centroids(codes, k=4, iterations=2)
    # unrolled codegen d2 — bit-identical to the fold (same IEEE
    # op order), ~10x on the corpus x k assignment rows
    d2 = _d2_unrolled(F.col("embedding"), F.col("__cvec"), 64)
    c = cents.select(F.col("vec_id").alias("__cid"),
                     F.col("embedding").alias("__cvec"))
    assigned = (
        codes.join(F.broadcast(c))
        .groupBy("vec_id")
        .agg(F.min(F.struct(d2.alias("d"), F.col("__cid").alias("cid")))
             .alias("__best"))
        .select("vec_id", F.col("__best.cid").alias("cid"),
                F.col("__best.d").alias("d2"))
    )
    cent_sum = F.aggregate("__cvec", F.lit(0.0), lambda a, x: a + x)
    return (
        assigned.join(F.broadcast(c), assigned["cid"] == c["__cid"])
        .groupBy("cid")
        .agg(F.count("*").cast("long").alias("n_members"),
             F.round(F.round(F.avg("d2") + F.lit(1e-6), 4) + F.lit(0.0),
                     4).alias("mean_d2"),
             F.round(F.round(F.first(cent_sum) + F.lit(1e-6), 4)
                     + F.lit(0.0), 4).alias("cent_sum"))
    )


# ---- IVF similarity search --------------------------------------------


@query(
    "emb_knn_ivf",
    sql="""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cents AS (
            SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 16
        ), assigned AS (
            SELECT vec_id, v,
                   arg_min(cid, list_distance(v, cv)) AS cell
            FROM c, cents
            GROUP BY vec_id, v
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5
        ), probes AS (
            SELECT query_id, qv, cid AS cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY list_distance(qv, cv), cid)
                       AS prank
            FROM q, cents
        ), scored AS (
            SELECT p.query_id, a.vec_id,
                   list_dot_product(a.v, p.qv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(p.qv, p.qv))) AS cos
            FROM assigned a
            JOIN (SELECT * FROM probes WHERE prank <= 2) p USING (cell)
            WHERE a.vec_id != p.query_id
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
def emb_knn_ivf(spark, sf_dir):
    """knn_ivf (pipeline/similarity.py): inverted-file approximate knn —
    nearest-centroid cells (L2 argmin against a broadcast centroid
    table), 2-probe search brute-forcing only the probed lists.  The
    oracle replays the same quantize/probe/rank algebra."""
    from xcube_spark.pipeline.similarity import knn_ivf

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.where(F.col("vec_id") < 16)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_ivf(emb, queries, cents, k=10, n_probe=2)
    return out.select("query_id", "vec_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


# ---- standalone n-gram Jaccard ----------------------------------------


@query(
    "doc_ngram_jaccard",
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
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(c / (sa.n + sb.n - c), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c / (sa.n + sb.n - c) >= 0.8
    """,
)
def doc_ngram_jaccard(spark, sf_dir):
    """Direct pairwise n-gram (3-shingle) Jaccard on a bounded candidate
    set — the exact-similarity building block that minhash/LSH
    approximate; the shared-shingle join only materializes pairs with
    at least one common shingle, never the full cross product."""
    from xcube_spark.pipeline.dedup import shingles

    docs = tbl(spark, sf_dir, "documents")
    sh = shingles(docs).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .where(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# ---- product-quantized ANN (ADC scan) ---------------------------------


@query(
    "emb_knn_pq",
    sql="""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), subs AS (
            SELECT CAST(unnest(range(4)) AS INT) AS sub
        ), cb AS (
            SELECT sub, CAST(vec_id AS INT) AS cid,
                   v[(sub * 16 + 1):(sub * 16 + 16)] AS cv
            FROM c, subs WHERE vec_id < 16
        ), sv AS (
            SELECT vec_id, sub,
                   v[(sub * 16 + 1):(sub * 16 + 16)] AS sv
            FROM c, subs
        ), enc AS (
            -- lexicographic (d2, cid) min == deterministic argmin;
            -- d2 is the UNROLLED fixed-order sum matching the Spark
            -- side's _d2_unrolled bit for bit
            SELECT vec_id, sub,
                   min(struct_pack(
                       d := (sv[1] - cv[1]) * (sv[1] - cv[1]) + (sv[2] - cv[2]) * (sv[2] - cv[2]) + (sv[3] - cv[3]) * (sv[3] - cv[3]) + (sv[4] - cv[4]) * (sv[4] - cv[4]) + (sv[5] - cv[5]) * (sv[5] - cv[5]) + (sv[6] - cv[6]) * (sv[6] - cv[6]) + (sv[7] - cv[7]) * (sv[7] - cv[7]) + (sv[8] - cv[8]) * (sv[8] - cv[8]) + (sv[9] - cv[9]) * (sv[9] - cv[9]) + (sv[10] - cv[10]) * (sv[10] - cv[10]) + (sv[11] - cv[11]) * (sv[11] - cv[11]) + (sv[12] - cv[12]) * (sv[12] - cv[12]) + (sv[13] - cv[13]) * (sv[13] - cv[13]) + (sv[14] - cv[14]) * (sv[14] - cv[14]) + (sv[15] - cv[15]) * (sv[15] - cv[15]) + (sv[16] - cv[16]) * (sv[16] - cv[16]),
                       cid := cid)).cid AS code
            FROM sv JOIN cb USING (sub)
            GROUP BY vec_id, sub
        ), dt AS (
            SELECT q.vec_id AS query_id, cb.sub, cb.cid,
                   (q.sv[1] - cb.cv[1]) * (q.sv[1] - cb.cv[1]) + (q.sv[2] - cb.cv[2]) * (q.sv[2] - cb.cv[2]) + (q.sv[3] - cb.cv[3]) * (q.sv[3] - cb.cv[3]) + (q.sv[4] - cb.cv[4]) * (q.sv[4] - cb.cv[4]) + (q.sv[5] - cb.cv[5]) * (q.sv[5] - cb.cv[5]) + (q.sv[6] - cb.cv[6]) * (q.sv[6] - cb.cv[6]) + (q.sv[7] - cb.cv[7]) * (q.sv[7] - cb.cv[7]) + (q.sv[8] - cb.cv[8]) * (q.sv[8] - cb.cv[8]) + (q.sv[9] - cb.cv[9]) * (q.sv[9] - cb.cv[9]) + (q.sv[10] - cb.cv[10]) * (q.sv[10] - cb.cv[10]) + (q.sv[11] - cb.cv[11]) * (q.sv[11] - cb.cv[11]) + (q.sv[12] - cb.cv[12]) * (q.sv[12] - cb.cv[12]) + (q.sv[13] - cb.cv[13]) * (q.sv[13] - cb.cv[13]) + (q.sv[14] - cb.cv[14]) * (q.sv[14] - cb.cv[14]) + (q.sv[15] - cb.cv[15]) * (q.sv[15] - cb.cv[15]) + (q.sv[16] - cb.cv[16]) * (q.sv[16] - cb.cv[16]) AS qd2
            FROM (SELECT * FROM sv WHERE vec_id < 5) q, cb
            WHERE cb.sub = q.sub
        ), adc AS (
            SELECT d.query_id, e.vec_id,
                   MAX(CASE WHEN e.sub = 0 THEN qd2 END) AS d0,
                   MAX(CASE WHEN e.sub = 1 THEN qd2 END) AS d1,
                   MAX(CASE WHEN e.sub = 2 THEN qd2 END) AS d2,
                   MAX(CASE WHEN e.sub = 3 THEN qd2 END) AS d3
            FROM enc e
            JOIN dt d ON d.sub = e.sub AND d.cid = e.code
            WHERE e.vec_id != d.query_id
            GROUP BY d.query_id, e.vec_id
        ), ranked AS (
            SELECT query_id, vec_id,
                   ((d0 + d1) + d2) + d3 AS ad2,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY ((d0 + d1) + d2) + d3, vec_id) AS rank
            FROM adc
        )
        SELECT query_id, vec_id, ROUND(ad2, 4) AS pq_d2, rank
        FROM ranked WHERE rank <= 10
    """,
)
def emb_knn_pq(spark, sf_dir):
    """knn_pq (pipeline/similarity.py): product-quantization ANN — the
    64-dim corpus compresses to 4 one-byte codes against a sampled
    16-entry-per-subspace codebook; search is an asymmetric-distance
    (ADC) table-lookup scan.  The oracle replays codebook, encode, and
    the fixed-order 4-term ADC sum; both engines compute subspace
    distances with the same left-to-right dot-product identity, so the
    approximate distances hash-match at 4 decimals."""
    from xcube_spark.pipeline.similarity import knn_pq

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_pq(emb, queries, k=10, m=4, dsub=16, ksub=16)
    return out.select("query_id", "vec_id",
                      F.round("pq_d2", 4).alias("pq_d2"), "rank")


# ---- audio features over binary payloads ------------------------------


@query(
    "doc_audio_features",
    sql="""
        WITH t AS (
            SELECT doc_id, text,
                   CAST(length(text) // 2 AS BIGINT) AS ns
            FROM documents
        ), raw AS (
            SELECT doc_id,
                   CAST(ord(substring(text, 2 * i + 1, 1))
                        + 256 * ord(substring(text, 2 * i + 2, 1))
                        AS BIGINT) AS u
            FROM t, unnest(range(ns)) AS u(i)
        ), smp AS (
            -- SIGNED little-endian int16, matching the Spark side's
            -- '<i2' decode: values >= 0x8000 wrap negative
            SELECT doc_id,
                   CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
            FROM raw
        ), agg AS (
            SELECT doc_id,
                   COUNT(*) AS n_samples,
                   MAX(abs(s)) AS peak,
                   CAST(SUM(s * s) AS BIGINT) AS sum_sq,
                   CAST(SUM(CASE WHEN abs(s) >= 30000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clipped
            FROM smp GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(COALESCE(n_samples, 0) AS BIGINT) AS n_samples,
               CAST(CEIL(COALESCE(n_samples, 0) / 64.0) AS BIGINT)
                   AS n_frames,
               CAST(COALESCE(peak, 0) AS BIGINT) AS peak,
               CAST(COALESCE(sum_sq, 0) AS BIGINT) AS sum_sq,
               CAST(COALESCE(n_clipped, 0) AS BIGINT) AS n_clipped
        FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def doc_audio_features(spark, sf_dir):
    """audio_features (pipeline/multimodal.py): payloads decoded as
    16-bit little-endian PCM inside Arrow batches; every output is an
    exact integer (count / peak / energy / clip count), so the oracle
    restates the decode byte-by-byte with no float-summation-order
    hazard.  The oracle applies the same SIGNED int16 wrap
    (u >= 0x8000 -> u - 0x10000) as the '<i2' numpy decode, so a
    non-ASCII high byte in the corpus cannot silently diverge."""
    from xcube_spark.pipeline.multimodal import attach_payload, audio_features

    mm = attach_payload(tbl(spark, sf_dir, "documents"), mime="audio/pcm")
    return audio_features(mm, frame=64)


@query(
    "emb_knn_lsh_multiprobe",
    sql=f"""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings
        ), q0 AS (
            SELECT vec_id AS query_id, v AS qv, bucket FROM c
            WHERE vec_id < 5
        ), q AS (
            SELECT query_id, qv,
                   CASE WHEN i = 0 THEN bucket
                        ELSE xor(bucket, CAST(1 << (i - 1) AS BIGINT))
                   END AS bucket
            FROM q0, unnest(range(9)) AS u(i)
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   list_dot_product(c.v, q.qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS cos
            FROM c JOIN q USING (bucket)
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
def emb_knn_lsh_multiprobe(spark, sf_dir):
    """knn_lsh with probe_radius=1 (multi-probe): the query side also
    searches every bucket one sign-flip away, recovering neighbors
    that landed just across a hyperplane.  Corpus rows still land in
    exactly one bucket — only each query's probe set grows
    (x (1 + n_planes)), so the scale shape is unchanged."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_lsh(emb, queries, k=10, probe_radius=1)
    return out.select("query_id", "vec_id",
                      F.round("cosine", 6).alias("cosine"), "rank")



# ---- IVF-PQ combined index --------------------------------------------

from xcube_spark.pipeline.similarity import _d2_sql

_D64_AC = _d2_sql("c.v", "cents.cv", 64)
_D64_QC = _d2_sql("q.v", "ct.cv", 64)
_D16_ENC = _d2_sql("sv", "cv", 16)


#: the IVF-PQ index restated in SQL up through the ADC ranking —
#: shared by the plain top-k gate and the exact-rerank gate
_IVFPQ_RANKED_CTES = f"""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cents AS (
            SELECT CAST(vec_id AS INT) AS ccid, v AS cv
            FROM c WHERE vec_id < 8
        ), assigned AS (
            SELECT vec_id, v,
                   min(struct_pack(d := {_D64_AC}, cid := ccid)).cid AS cell
            FROM c, cents GROUP BY vec_id, v
        ), res AS (
            SELECT a.vec_id, a.cell,
                   [a.v[i + 1] - ct.cv[i + 1] FOR i IN range(64)] AS rv
            FROM assigned a JOIN cents ct ON ct.ccid = a.cell
        ), subs AS (
            SELECT CAST(unnest(range(4)) AS INT) AS sub
        ), rsv AS (
            SELECT vec_id, cell, sub,
                   rv[(sub * 16 + 1):(sub * 16 + 16)] AS sv
            FROM res, subs
        ), rcb AS (
            SELECT sub, CAST(vec_id AS INT) AS cid, sv AS cv
            FROM rsv WHERE vec_id < 16
        ), enc AS (
            SELECT vec_id, cell, sub,
                   min(struct_pack(d := {_D16_ENC}, cid := cid)).cid AS code
            FROM rsv JOIN rcb USING (sub)
            GROUP BY vec_id, cell, sub
        ), probes AS (
            SELECT query_id, ccid AS cell, qv, cv FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, ct.ccid, ct.cv,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_D64_QC}, ct.ccid) AS pr
                FROM (SELECT * FROM c WHERE vec_id < 5) q, cents ct
            ) WHERE pr <= 2
        ), qres AS (
            SELECT query_id, cell,
                   [qv[i + 1] - cv[i + 1] FOR i IN range(64)] AS qrv
            FROM probes
        ), qsv AS (
            SELECT query_id, cell, sub,
                   qrv[(sub * 16 + 1):(sub * 16 + 16)] AS sv
            FROM qres, subs
        ), dt AS (
            SELECT query_id, cell, sub, cid, {_D16_ENC} AS qd2
            FROM qsv JOIN rcb USING (sub)
        ), adc AS (
            SELECT d.query_id, e.vec_id,
                   MAX(CASE WHEN e.sub = 0 THEN qd2 END) AS d0,
                   MAX(CASE WHEN e.sub = 1 THEN qd2 END) AS d1,
                   MAX(CASE WHEN e.sub = 2 THEN qd2 END) AS d2,
                   MAX(CASE WHEN e.sub = 3 THEN qd2 END) AS d3
            FROM enc e
            JOIN dt d ON d.cell = e.cell AND d.sub = e.sub
                     AND d.cid = e.code
            WHERE e.vec_id != d.query_id
            GROUP BY d.query_id, e.vec_id
        ), ranked AS (
            SELECT query_id, vec_id,
                   ((d0 + d1) + d2) + d3 AS ad2,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY ((d0 + d1) + d2) + d3, vec_id) AS rank
            FROM adc
        )"""


@query(
    "emb_knn_ivfpq",
    sql=_IVFPQ_RANKED_CTES + """
        SELECT query_id, vec_id, ROUND(ad2, 4) AS pq_d2, rank
        FROM ranked WHERE rank <= 10
    """,
)
def emb_knn_ivfpq(spark, sf_dir):
    """knn_ivfpq (pipeline/similarity.py): the combined FAISS-style
    index — coarse nearest-centroid routing (8 cells), PQ over the
    RESIDUALS (vector minus centroid), 2-probe search scanning only
    probed inverted lists with per-(query, cell) ADC tables.  Every
    argmin is a lexicographic struct-min and every distance an
    unrolled fixed-order sum, so the oracle reproduces the
    approximate distances bit-for-bit at 4 decimals."""
    from xcube_spark.pipeline.similarity import knn_ivfpq

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_ivfpq(emb, queries, k=10, n_cells=8, n_probe=2,
                    m=4, dsub=16, ksub=16)
    return out.select("query_id", "vec_id",
                      F.round("pq_d2", 4).alias("pq_d2"), "rank")


_D64_RERANK = _d2_sql("cv.v", "qv.v", 64)


@query(
    "emb_knn_rerank",
    sql=_IVFPQ_RANKED_CTES + f""",
        cand AS (
            SELECT query_id, vec_id FROM ranked WHERE rank <= 50
        ), ex AS (
            SELECT cand.query_id, cand.vec_id,
                   {_D64_RERANK} AS d2
            FROM cand
            JOIN c cv ON cv.vec_id = cand.vec_id
            JOIN c qv ON qv.vec_id = cand.query_id
        ), rr AS (
            SELECT query_id, vec_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, vec_id) AS rank
            FROM ex
        )
        SELECT query_id, vec_id,
               ROUND(ROUND(d2 + 1e-9, 6) + 0.0, 6) AS d2, rank
        FROM rr WHERE rank <= 10
    """,
)
def emb_knn_rerank(spark, sf_dir):
    """knn_ivfpq_rerank (pipeline/similarity.py): two-stage retrieval
    — IVF-PQ coarse search for 50 candidates per query, exact
    unrolled squared-L2 re-rank of just those candidates, top 10.
    The production ANN shape: compressed-domain ADC finds the
    neighborhood at |corpus| * n_probe/n_cells lookups, the exact
    stage touches only queries x 50 full vectors via an id join with
    the candidate side broadcast.  Candidates inherit the ivfpq
    gate's lexicographic determinism; exact distances are
    bit-identical fixed-order folds on both engines."""
    from xcube_spark.pipeline.similarity import knn_ivfpq_rerank

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_ivfpq_rerank(emb, queries, k=10, k_coarse=50,
                           n_cells=8, n_probe=2, m=4, dsub=16, ksub=16)
    return out.select(
        "query_id", "vec_id",
        F.round(F.round(F.col("d2") + 1e-9, 6) + 0.0, 6).alias("d2"),
        "rank")


@query(
    "emb_quantize_int8",
    sql="""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
        ), s AS (
            SELECT vec_id, e,
                   list_max(list_transform(e, x -> abs(x))) / 127.0
                       AS scale
            FROM v
        ), c AS (
            SELECT vec_id, scale,
                   list_transform(e, x -> CAST(round(x / scale)
                                               AS BIGINT)) AS codes
            FROM s
        )
        SELECT vec_id,
               ROUND(scale + 1e-9, 6) AS scale,
               CAST(list_sum(codes) AS BIGINT) AS sum_codes,
               CAST(list_sum(list_transform(codes, x -> abs(x)))
                    AS BIGINT) AS sum_abs_codes,
               CAST(len(list_filter(codes, x -> abs(x) = 127))
                    AS BIGINT) AS n_saturated
        FROM c
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric int8 vector quantization — the memory-compression
    step before ANN serving (256 B float vector -> 64 B codes +
    4 B scale): per vector, scale = max|v|/127, code_i =
    round(v_i/scale).  Map-only Column math (no UDF, no shuffle);
    code sums are INTEGER-exact cross-engine, so the oracle hash
    doesn't ride on float summation order.  Both engines round
    half-away-from-zero, so code values are bit-identical."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    q = emb.select(
        "vec_id", "e",
        (F.array_max(F.transform("e", lambda x: F.abs(x)))
         / F.lit(127.0)).alias("scale"),
    ).select(
        "vec_id", "scale",
        F.transform(
            "e", lambda x: F.round(x / F.col("scale")).cast("long")
        ).alias("codes"),
    )
    return q.select(
        "vec_id",
        F.round(F.col("scale") + F.lit(1e-9), 6).alias("scale"),
        F.aggregate("codes", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("sum_codes"),
        F.aggregate("codes", F.lit(0).cast("long"),
                    lambda a, x: a + F.abs(x)).alias("sum_abs_codes"),
        F.size(F.filter("codes", lambda x: F.abs(x) == 127))
        .cast("long").alias("n_saturated"),
    )


@query(
    "emb_pca_variance",
    sql="""
        WITH u AS (
            SELECT i, CAST(embedding[i + 1] AS DOUBLE) AS v
            FROM embeddings, unnest(range(64)) AS t(i)
        ), agg AS (
            SELECT i, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS g
            FROM u GROUP BY i
        )
        SELECT CAST(i AS INT) AS dim_i,
               ROUND(s / n, 6) AS mean_i,
               ROUND(g / n - (s / n) * (s / n), 6) AS var_i
        FROM agg
    """,
)
def emb_pca_variance(spark, sf_dir):
    """pca_moments/pca_moment_stats (pipeline/similarity.py): the
    one-pass sufficient statistics behind distributed PCA — every
    task reduces its Arrow batches to ONE (1 + d + d^2)-value row
    (zero-copy reshape + a single X^T X matmul), the driver sums at
    most #tasks model-sized partials, never rows.  The gate checks
    the per-dimension mean/variance derived from those moments
    against DuckDB's direct per-dimension aggregation; the eigen
    step (orthonormal components, descending explained variance,
    unit-variance whitening) has no SQL twin and is pytest-pinned in
    tests/test_similarity_pca.py."""
    from xcube_spark.pipeline.similarity import pca_moment_stats

    emb = tbl(spark, sf_dir, "embeddings")
    out = pca_moment_stats(emb)
    return out.select(
        "dim_i",
        F.round("mean_i", 6).alias("mean_i"),
        F.round("var_i", 6).alias("var_i"))


@query(
    "emb_incremental_pca",
    sql="""
        WITH u AS (
            SELECT i, CAST(embedding[i + 1] AS DOUBLE) AS v
            FROM embeddings, unnest(range(64)) AS t(i)
        ), agg AS (
            SELECT i, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS g
            FROM u GROUP BY i
        )
        SELECT CAST(i AS INT) AS dim_i,
               ROUND(s / n, 6) AS mean_i,
               ROUND(g / n - (s / n) * (s / n), 6) AS var_i
        FROM agg
    """,
)
def emb_incremental_pca(spark, sf_dir):
    """pca_moments_merge (pipeline/similarity.py): incremental PCA
    maintenance — the corpus arrives as two batches (vec_id parity),
    each contributes its own one-pass moment triple, and the merged
    state finalizes to the same per-dimension mean/variance as a
    single-pass recompute (the oracle IS the single-pass recompute:
    merge == recompute up to summation-order ulps under the 6-decimal
    round).  The sufficient statistics are O(d^2) regardless of
    corpus size, so growing a 100 TB corpus costs one scan of the NEW
    batch only — the drift-monitoring / incremental-statistics shape,
    same contract as the sketch and OLS-probe states."""
    from xcube_spark.pipeline.similarity import (
        pca_moment_stats, pca_moments, pca_moments_merge)

    emb = tbl(spark, sf_dir, "embeddings")
    m_even = pca_moments(emb.where(F.col("vec_id") % 2 == 0))
    m_odd = pca_moments(emb.where(F.col("vec_id") % 2 == 1))
    merged = pca_moments_merge(m_even, m_odd)
    out = pca_moment_stats(emb, moments=merged)
    return out.select(
        "dim_i",
        F.round("mean_i", 6).alias("mean_i"),
        F.round("var_i", 6).alias("var_i"))


@query(
    "emb_knn_recall",
    sql=f"""
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, bucket FROM c
            WHERE vec_id < 5
        ), truth AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, c.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_dot_product(c.v, q.qv)
                               / (sqrt(list_dot_product(c.v, c.v))
                                  * sqrt(list_dot_product(q.qv, q.qv)))
                               DESC, c.vec_id) AS rank
                FROM c, q
                WHERE c.vec_id != q.query_id
            ) WHERE rank <= 10
        ), approx AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, c.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_dot_product(c.v, q.qv)
                               / (sqrt(list_dot_product(c.v, c.v))
                                  * sqrt(list_dot_product(q.qv, q.qv)))
                               DESC, c.vec_id) AS rank
                FROM c JOIN q USING (bucket)
                WHERE c.vec_id != q.query_id
            ) WHERE rank <= 10
        )
        SELECT t.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(COUNT(a.vec_id) AS BIGINT) AS n_matched,
               ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) + 1e-9,
                     6) AS recall
        FROM truth t
        LEFT JOIN approx a
          ON a.query_id = t.query_id AND a.vec_id = t.vec_id
        GROUP BY t.query_id
    """,
)
def emb_knn_recall(spark, sf_dir):
    """Recall@10 of single-probe LSH against the brute-force ground
    truth (pipeline/similarity.py knn_recall) — the standard ANN
    quality metric run AS A PLAN: one fused corpus scan for the
    truth, one for the LSH approximation, a left-semi
    hit count, all post-ranking work metadata-sized (|queries| x k).
    Evaluating an index build's recall on sampled queries against a
    100 TB corpus costs two corpus scans.  The oracle restates both
    rankings (identical tie orders) and the hit count."""
    from xcube_spark.pipeline.similarity import knn_recall

    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return knn_recall(emb, queries, k=10)


@query(
    "doc_image_phash",
    sql="""
        WITH d AS (
            SELECT doc_id, text, length(text) AS n,
                   CAST(greatest(1, ceil(length(text) / 32.0))
                        AS BIGINT) AS h
            FROM documents
        ), g AS (
            SELECT d.doc_id, r.r, c.c, d.n, d.text,
                   ((r.r * d.h) // 8) * 32 + ((c.c * 32) // 9) + 1
                       AS pos
            FROM d, unnest(range(8)) r(r), unnest(range(9)) c(c)
        ), p AS (
            SELECT doc_id, r, c,
                   CASE WHEN pos <= n
                        THEN ascii(substr(text, CAST(pos AS INT), 1))
                        ELSE 32 END AS v
            FROM g
        ), b AS (
            SELECT doc_id, r, c, v,
                   LEAD(v) OVER (PARTITION BY doc_id, r
                                 ORDER BY c) AS nv
            FROM p
        ), byts AS (
            SELECT doc_id, r,
                   CAST(SUM(CASE WHEN v > nv THEN 1 << (7 - c)
                                 ELSE 0 END) AS BIGINT) AS byte
            FROM b WHERE c < 8 GROUP BY doc_id, r
        ), hs AS (
            SELECT doc_id,
                   string_agg(lpad(lower(to_hex(byte)), 2, '0'), ''
                              ORDER BY r) AS dhash
            FROM byts GROUP BY doc_id
        )
        SELECT doc_id, dhash,
               CAST(COUNT(*) OVER (PARTITION BY dhash) AS BIGINT)
                   AS n_same
        FROM hs
    """,
)
def doc_image_phash(spark, sf_dir):
    """image_dhash (pipeline/multimodal.py): perceptual
    difference-hash near-dup image detection over REAL PNG bytes —
    text payloads render through the from-scratch PNG encoder, decode
    through the from-scratch decoder, nearest-neighbor sample onto a
    9x8 grid, and pack the 64 horizontal-gradient compare bits into a
    16-hex-char fingerprint; n_same counts documents sharing a
    fingerprint (the image-dedup group size).  The oracle recomputes
    every sampled pixel straight from the characters (pad byte 32
    past the text), so a defect anywhere in the codec, the stride
    math, or the bit packing hash-fails.  Integer-only: no float
    boundary.  Scale: one Arrow mapInPandas hop + a hash shuffle on
    8-byte keys."""
    from xcube_spark.pipeline.multimodal import (
        attach_payload, encode_payload_png, image_dhash)
    from pyspark.sql.window import Window

    mm = encode_payload_png(
        attach_payload(tbl(spark, sf_dir, "documents")),
        width=32, pad_byte=32)
    hashed = image_dhash(mm)
    return hashed.select(
        "doc_id", "dhash",
        F.count("*").over(Window.partitionBy("dhash"))
        .cast("long").alias("n_same"))


def _dct_phash_sql() -> str:
    """SQL twin of pipeline.multimodal.image_dct_phash: identical
    DCT basis double literals (module constants), pixels recomputed
    straight from the characters (pad 32), identical nudged 1e-2
    coefficient grid, exact odd-count median element."""
    from xcube_spark.pipeline.multimodal import (DCT_K, PHASH_FREQS,
                                                 PHASH_GRID)

    k_rows = ",\n                ".join(
        f"({u}, {t}, CAST({DCT_K[u][t]!r} AS DOUBLE))"
        for u in range(PHASH_FREQS) for t in range(PHASH_GRID))
    g = PHASH_GRID
    return f"""
        WITH k(u, t, kc) AS (
            VALUES {k_rows}
        ), d AS (
            SELECT doc_id, text, length(text) AS n,
                   CAST(greatest(1, ceil(length(text) / 32.0))
                        AS BIGINT) AS h
            FROM documents
        ), p AS (
            SELECT d.doc_id, r.r, c.c,
                   CASE WHEN ((r.r * d.h) // {g}) * 32
                             + ((c.c * 32) // {g}) + 1 <= d.n
                        THEN ascii(substr(text,
                            CAST(((r.r * d.h) // {g}) * 32
                                 + ((c.c * 32) // {g}) + 1 AS INT), 1))
                        ELSE 32 END AS v
            FROM d, unnest(range({g})) r(r), unnest(range({g})) c(c)
        ), coef AS (
            SELECT p.doc_id, ku.u AS u, kv.u AS v,
                   ROUND(SUM(p.v * ku.kc * kv.kc) + 1e-6, 2) AS rc
            FROM p
            JOIN k ku ON ku.t = p.r
            JOIN k kv ON kv.t = p.c
            GROUP BY p.doc_id, ku.u, kv.u
        ), ac AS (
            SELECT doc_id, u, v, rc FROM coef
            WHERE NOT (u = 0 AND v = 0)
        ), med AS (
            SELECT doc_id, quantile_cont(rc, 0.5) AS med
            FROM ac GROUP BY doc_id
        ), bits AS (
            SELECT a.doc_id,
                   CAST(SUM(CASE WHEN a.rc > m.med
                                 THEN 1 << (14 - (a.u * 4 + a.v - 1))
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM ac a JOIN med m USING (doc_id)
            GROUP BY a.doc_id
        )
        SELECT doc_id, phash,
               CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT)
                   AS n_same
        FROM bits
    """


@query("doc_image_dct_phash", sql=_dct_phash_sql())
def doc_image_dct_phash(spark, sf_dir):
    """image_dct_phash (pipeline/multimodal.py): DCT perceptual hash
    over REAL PNG bytes — encode through the from-scratch PNG codec,
    decode, nearest-sample to 8x8, 2-D DCT-II (basis doubles shared
    verbatim between the numpy kernel and this oracle), 15
    low-frequency AC coefficients compared against their exact
    median element (odd count, no interpolation) after nudge-rounding
    onto a 1e-2 grid with Decimal HALF_UP == engine ROUND — so the
    kernel's matmul order and the oracle's GROUP BY order agree
    exactly.  The frequency-domain complement of doc_image_phash's
    gradient dHash; n_same is the image-dedup group size.  One Arrow
    mapInPandas hop + a hash shuffle on 8-byte keys."""
    from xcube_spark.pipeline.multimodal import (
        attach_payload, encode_payload_png, image_dct_phash)
    from pyspark.sql.window import Window

    mm = encode_payload_png(
        attach_payload(tbl(spark, sf_dir, "documents")),
        width=32, pad_byte=32)
    hashed = image_dct_phash(mm)
    return hashed.select(
        "doc_id", "phash",
        F.count("*").over(Window.partitionBy("phash"))
        .cast("long").alias("n_same"))


def _spectrogram_sql() -> str:
    """SQL twin of pipeline.multimodal.audio_spectrogram: the SAME
    twiddle-factor double literals (module constants, math.cos/sin),
    samples decoded byte-by-byte from the text, grouped per frame."""
    from xcube_spark.pipeline.multimodal import SPEC_COS, SPEC_SIN

    twid_rows = ",\n                ".join(
        f"({i}, {SPEC_COS[i][k]!r}, {SPEC_SIN[i][k]!r}, {k + 1})"
        for i in range(16) for k in range(4))
    return f"""
        WITH twid(i, c, s, b) AS (
            VALUES {twid_rows}
        ), t AS (
            SELECT doc_id, text,
                   CAST(length(text) // 2 AS BIGINT) AS ns
            FROM documents
        ), raw AS (
            SELECT doc_id, u.i AS idx,
                   CAST(ord(substring(text, CAST(2 * u.i + 1 AS INT), 1))
                        + 256 * ord(substring(text,
                                    CAST(2 * u.i + 2 AS INT), 1))
                        AS BIGINT) AS v
            FROM t, unnest(range((ns // 16) * 16)) AS u(i)
        ), smp AS (
            SELECT doc_id, idx // 16 AS frame,
                   CAST(idx % 16 AS BIGINT) AS i,
                   CAST(CASE WHEN v >= 32768 THEN v - 65536
                             ELSE v END AS DOUBLE) AS smp
            FROM raw
        ), fr AS (
            SELECT doc_id, frame, twid.b,
                   SUM(smp * twid.c) AS re,
                   SUM(smp * twid.s) AS im
            FROM smp JOIN twid USING (i)
            GROUP BY doc_id, frame, twid.b
        ), pw AS (
            SELECT doc_id, b, AVG(re * re + im * im) AS p,
                   COUNT(*) AS n_frames
            FROM fr GROUP BY doc_id, b
        )
        SELECT doc_id,
               CAST(MAX(n_frames) AS BIGINT) AS n_frames,
               ROUND(MAX(CASE WHEN b = 1 THEN p END) + 1e-3, 1) AS p1,
               ROUND(MAX(CASE WHEN b = 2 THEN p END) + 1e-3, 1) AS p2,
               ROUND(MAX(CASE WHEN b = 3 THEN p END) + 1e-3, 1) AS p3,
               ROUND(MAX(CASE WHEN b = 4 THEN p END) + 1e-3, 1) AS p4
        FROM pw
        GROUP BY doc_id
    """


@query("doc_audio_spectrogram", sql=_spectrogram_sql())
def doc_audio_spectrogram(spark, sf_dir):
    """audio_spectrogram (pipeline/multimodal.py): 16-point DFT band
    power (bins 1-4) per PCM frame, mean per track — the
    spectrogram/band-energy stage of an audio-curation pipeline,
    library-free: twiddle factors are module-constant doubles shared
    verbatim by the numpy kernel and the SQL twin, payloads decode as
    signed little-endian int16 exactly like doc_audio_features.
    Cross-engine summation noise at these magnitudes (~1e7 powers) is
    ~1e-4, absorbed by the 1e-3-nudged 1-decimal round.  Scale: one
    Arrow mapInArrow pass, vectorized matmul, no shuffle."""
    from xcube_spark.pipeline.multimodal import (
        attach_payload, audio_spectrogram)

    mm = attach_payload(tbl(spark, sf_dir, "documents"))
    out = audio_spectrogram(mm)
    return out.select(
        "doc_id", "n_frames",
        *[F.round(F.col(f"p{k}") + 1e-3, 1).alias(f"p{k}")
          for k in (1, 2, 3, 4)])


def _binq_sql_terms(word: int, word_bits: int = 32) -> str:
    """The sign-bit packing of one 32-bit word as DuckDB SQL —
    nibble-for-nibble the Spark unrolled CASE sum."""
    return " + ".join(
        f"(CASE WHEN embedding[{word * word_bits + i + 1}] >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(word_bits))


@query(
    "emb_knn_hamming",
    sql=f"""
        WITH packed AS (
            SELECT vec_id,
                   CAST({_binq_sql_terms(0)} AS BIGINT) AS w0,
                   CAST({_binq_sql_terms(1)} AS BIGINT) AS w1
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
            FROM packed WHERE vec_id % 97 = 0
        ), d AS (
            SELECT q.query_id, p.vec_id,
                   CAST(bit_count(xor(p.w0, q.q0))
                        + bit_count(xor(p.w1, q.q1)) AS INT) AS hamming
            FROM packed p CROSS JOIN q
        ), ranked AS (
            SELECT query_id, vec_id, hamming,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY hamming, vec_id) AS rank
            FROM d
        )
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id, hamming
        FROM ranked WHERE rank <= 5
    """,
)
def emb_knn_hamming(spark, sf_dir):
    """knn_hamming + binary_quantize (pipeline/similarity.py):
    sign-bit binary quantization (64 dims -> two 32-bit words) and
    brute-force top-5 in Hamming space — the 1-bit ANN baseline
    beside the cosine/LSH/IVF/PQ family (32x smaller codes, integer-
    only distance).  Every query vector is vec_id % 97 == 0 (its own
    nearest neighbor at distance 0 — a built-in sanity anchor).  ALL
    output columns are integers: the gate rides on no float anywhere.
    Corpus streams against the broadcast query set; the only exchange
    is the per-query top-k window."""
    from xcube_spark.pipeline.similarity import knn_hamming

    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 97 == 0)
    out = knn_hamming(emb, queries, k=5)
    return out.select("query_id", F.col("rank").cast("int").alias("rank"),
                      "vec_id", "hamming")


def _edge_px(dr: int, dc: int) -> str:
    """Padded-byte-list pixel access at (r + dr, c + dc) for the Sobel
    oracle, with r = 1 + i // 30, c = 1 + i % 30 (1-based list)."""
    return f"b[(1 + i // 30 + {dr}) * 32 + (1 + i % 30 + {dc}) + 1]"


_EDGE_GX = (f"(({_edge_px(-1, 1)} + 2 * {_edge_px(0, 1)} + {_edge_px(1, 1)})"
            f" - ({_edge_px(-1, -1)} + 2 * {_edge_px(0, -1)}"
            f" + {_edge_px(1, -1)}))")
_EDGE_GY = (f"(({_edge_px(1, -1)} + 2 * {_edge_px(1, 0)} + {_edge_px(1, 1)})"
            f" - ({_edge_px(-1, -1)} + 2 * {_edge_px(-1, 0)}"
            f" + {_edge_px(-1, 1)}))")


@query(
    "doc_image_edges",
    sql=f"""
        WITH b0 AS (
            SELECT doc_id,
                   list_transform(string_split(text, ''),
                                  c -> ascii(c)) AS bl,
                   CAST(greatest(1, ceil(length(text) / 32.0)) AS INT)
                       AS h,
                   length(text) AS n
            FROM documents
        ), pb AS (
            SELECT doc_id, h,
                   bl || list_transform(range(h * 32 - n), x -> 32)
                       AS b
            FROM b0
        )
        SELECT doc_id,
               CAST(greatest(h - 2, 0) * 30 AS BIGINT) AS n_interior,
               CAST(COALESCE(list_sum(list_transform(
                        range(greatest(h - 2, 0) * 30),
                        i -> abs({_EDGE_GX}) + abs({_EDGE_GY}))), 0)
                    AS BIGINT) AS edge_sum
        FROM pb
    """,
)
def doc_image_edges(spark, sf_dir):
    """image_edge_density (pipeline/multimodal.py): Sobel
    edge-magnitude statistics over REAL decoded images — text bytes
    become genuine grayscale PNGs (from-scratch encoder, 32 wide, pad
    32), the from-scratch decoder recovers the pixels, and the 3x3
    Sobel kernels convolve the interior in vectorized integer numpy —
    the image-complexity gate of a multimodal curation pipeline (the
    visual analog of char_entropy).  The oracle replays the
    convolution straight from the characters (padded byte list,
    row-local list comprehension — no pixel table explode), so any
    codec or stride defect hash-fails; everything is INTEGER-exact.
    One Arrow-batched mapInPandas hop per codec stage, no shuffle."""
    from xcube_spark.pipeline.multimodal import (
        attach_payload, encode_payload_png, image_edge_density)

    mm = encode_payload_png(attach_payload(tbl(spark, sf_dir, "documents")),
                            width=32, pad_byte=32)
    return image_edge_density(mm)
