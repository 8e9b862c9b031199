"""Retrieval and sketch queries: brute-force/LSH/IVF kNN, embedding and
semantic dedup, media stats, BM25, the inverted index, count-min and Bloom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.operators.dedup import embedding_dup_pairs
from paragrapher_spark.operators.multimodal import media_stats, synth_media
from paragrapher_spark.operators.similarity import knn_bruteforce, knn_ivf, knn_lsh
from paragrapher_spark.queries import query
from paragrapher_spark.queries.corpus import _TOKENS
from paragrapher_spark.sources.edges import load_table


_BM25_TERMS = ("spark", "vector", "hash")
_BM25_K = 10
_BM25_SCALE = 1_000_000


_INVIDX_TOPK = 20
_INVIDX_MIN_DF = 2


def _inverted_index_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id AS id, unnest({_TOKENS}) AS term FROM documents
    ),
    idx AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
               array_to_string(list_sort(list(id)), ',') AS postings
        FROM toks GROUP BY term
        HAVING COUNT(*) >= {_INVIDX_MIN_DF}
    )
    SELECT term, df, postings FROM idx
    ORDER BY df DESC, term
    LIMIT {_INVIDX_TOPK}
"""


@query("inverted_index", oracle=_inverted_index_sql())
def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index (functions/text.py inverted_index):
    the 20 highest-df terms with their full ascending posting lists
    (comma-joined — strings survive every engine's value compare) — the
    batch index bm25_topk-style retrieval serves from; an inverted
    index is a bipartite adjacency, so the gap-bits analytic prices its
    compression."""
    from paragrapher_spark.functions.text import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return (
        inverted_index(docs, min_df=_INVIDX_MIN_DF)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_INVIDX_TOPK)
    )


def _bm25_topk_sql() -> str:
    """_q_bm25_topk's twin: same integer fixed-point pipeline — dl/tf/df
    aggregates, avgdl = total div N, per-term score one ``//`` division,
    exact long sum, (score DESC, id) top-k."""
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS id, unnest({_TOKENS}) AS term FROM documents
    ),
    dl AS MATERIALIZED (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY id
    ),
    corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avgdl
        FROM dl
    ),
    tf AS MATERIALIZED (
        SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        WHERE term IN ({terms_sql}) GROUP BY id, term
    ),
    dft AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT t.id,
               (CAST({_BM25_SCALE} AS BIGINT) * (2*c.n_docs - 2*d.df + 1)
                    * t.tf * 44 * c.avgdl)
                   // ((2*d.df + 1)
                       * (20*c.avgdl*t.tf + 6*c.avgdl + 18*l.dl)) AS term_fp
        FROM tf t
        JOIN dft d USING (term)
        JOIN dl l ON l.id = t.id
        CROSS JOIN corpus c
    )
    SELECT id AS doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp,
           CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM scored GROUP BY id
    ORDER BY score_fp DESC, id
    LIMIT {_BM25_K}
    """


@query("bm25_topk", oracle=_bm25_topk_sql())
def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped retrieval (functions/text.py bm25_topk): top-10 docs
    for the query terms (spark, vector, hash) with k1=6/5, b=3/4 and the
    log-free RSJ odds-ratio term weight, every step exact integer fixed
    point at 1e6 scale — probabilistic ranking under the exact-hash
    gate, no libm between engines."""
    from paragrapher_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k=_BM25_K, scale=_BM25_SCALE).select(
        F.col("doc_id").cast("long"), "score_fp", "n_hit"
    )


_CMS_D = 4
_CMS_W = 256
_CMS_TOPK = 20


def _cms_heavy_hitters_sql() -> str:
    """_q_cms_heavy_hitters' twin: the d x w counter table rebuilt by
    GROUP BY, probes replayed with the same 'cms:i' tags, MIN over the
    depth rows."""
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT unnest({_TOKENS}) AS term FROM documents
    ),
    top AS MATERIALIZED (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY term
        ORDER BY exact_cnt DESC, term
        LIMIT {_CMS_TOPK}
    ),
    sk AS MATERIALIZED (
        SELECT r.i AS row,
               ('0x' || substr(md5(concat_ws(':',
                   'cms:' || CAST(r.i AS VARCHAR), '42', term)),
                   1, 15))::BIGINT % {_CMS_W} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks CROSS JOIN range({_CMS_D}) r(i)
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT t.term, t.exact_cnt, r.i AS row,
               ('0x' || substr(md5(concat_ws(':',
                   'cms:' || CAST(r.i AS VARCHAR), '42', t.term)),
                   1, 15))::BIGINT % {_CMS_W} AS bucket
        FROM top t CROSS JOIN range({_CMS_D}) r(i)
    )
    SELECT p.term, p.exact_cnt,
           CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_est,
           MIN(COALESCE(s.cnt, 0)) >= p.exact_cnt AS overestimates
    FROM probe p LEFT JOIN sk s ON s.row = p.row AND s.bucket = p.bucket
    GROUP BY p.term, p.exact_cnt
    """


@query("cms_heavy_hitters", oracle=_cms_heavy_hitters_sql())
def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens under a Count-Min sketch
    (operators/sketches.py cms_sketch/cms_estimate, Cormode &
    Muthukrishnan 2005): the 20 most frequent whitespace tokens with
    exact count, the CMS estimate (d=4, w=256, md5 hash family), and the
    sketch's never-underestimates guarantee as a gated boolean column —
    an approximate operator under exact-hash correctness evidence, the
    vocab_per_lang pattern."""
    from paragrapher_spark.functions.text import tokens
    from paragrapher_spark.operators.sketches import cms_estimate, cms_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sketch = cms_sketch(toks, "term", depth=_CMS_D, width=_CMS_W)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("term"))
        .limit(_CMS_TOPK)
    )
    est = cms_estimate(sketch, top, "term", depth=_CMS_D, width=_CMS_W)
    return est.select(
        "term",
        "exact_cnt",
        F.col("cms_est").cast("long"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("overestimates"),
    )


_BLOOM_BITS = 1024
_BLOOM_HASHES = 5
_BLOOM_PROBE_K = 30


def _bloom_membership_sql() -> str:
    """_q_bloom_membership's twin: set-bit relation rebuilt by DISTINCT,
    probes replayed with the same 'bloom:i' tags, ALL-bits-found
    verdict."""
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT lang, unnest({_TOKENS}) AS term FROM documents
    ),
    members AS MATERIALIZED (
        SELECT DISTINCT term FROM toks WHERE lang = 'en'
    ),
    bits AS MATERIALIZED (
        SELECT DISTINCT
               ('0x' || substr(md5(concat_ws(':',
                   'bloom:' || CAST(r.i AS VARCHAR), '42', term)),
                   1, 15))::BIGINT % {_BLOOM_BITS} AS bit
        FROM members CROSS JOIN range({_BLOOM_HASHES}) r(i)
    ),
    top AS MATERIALIZED (
        SELECT term FROM (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks GROUP BY term
            ORDER BY cnt DESC, term
            LIMIT {_BLOOM_PROBE_K}
        )
    ),
    probe AS (
        SELECT t.term, r.i,
               ('0x' || substr(md5(concat_ws(':',
                   'bloom:' || CAST(r.i AS VARCHAR), '42', t.term)),
                   1, 15))::BIGINT % {_BLOOM_BITS} AS bit
        FROM top t CROSS JOIN range({_BLOOM_HASHES}) r(i)
    ),
    verdict AS (
        SELECT p.term,
               COUNT(b.bit) = {_BLOOM_HASHES} AS maybe_member
        FROM probe p LEFT JOIN bits b ON b.bit = p.bit
        GROUP BY p.term
    )
    SELECT v.term,
           m.term IS NOT NULL AS exact_member,
           v.maybe_member,
           (v.maybe_member OR m.term IS NULL) AS no_false_negative
    FROM verdict v LEFT JOIN members m ON m.term = v.term
    """


@query("bloom_membership", oracle=_bloom_membership_sql())
def _q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-pass (operators/sketches.py
    bloom_build/bloom_probe, Bloom CACM 1970): the filter is built over
    the vocabulary of 'en' documents (a stand-in benchmark set — the
    decontamination shape: ship the broadcast-sized filter, not the
    set), probed with the 30 most frequent global terms; exact
    membership, the bloom verdict, AND the no-false-negatives guarantee
    are all gated columns."""
    from paragrapher_spark.functions.text import tokens
    from paragrapher_spark.operators.sketches import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    members = toks.where(F.col("lang") == "en").select("term").distinct()
    bloom = bloom_build(
        members, "term", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES
    )
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(_BLOOM_PROBE_K)
        .select("term")
    )
    exact = members.withColumn("exact_member", F.lit(True))
    probed = bloom_probe(
        bloom, top, "term", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES
    )
    return (
        probed.join(exact, on="term", how="left")
        .select(
            "term",
            F.coalesce(F.col("exact_member"), F.lit(False)).alias("exact_member"),
            "maybe_member",
            # Bloom's one-sided guarantee: member => maybe_member
            (F.col("maybe_member") | ~F.coalesce(
                F.col("exact_member"), F.lit(False)
            )).alias("no_false_negative"),
        )
    )


@query("embedding_dups", oracle="""
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ),
            s AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       ROUND(list_cosine_similarity(a.e, b.e), 6) AS score
                FROM v a JOIN v b ON a.vec_id < b.vec_id
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   score
            FROM s WHERE score >= 0.4
        """)
def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(emb, threshold=0.4, method="exact").select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "score"
    )


_MEDIA_STATS_SQL = """
    WITH m AS (
        SELECT i AS media_id,
               CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
                                       WHEN 1 THEN 'audio'
                                       ELSE 'video' END AS kind,
               ((i * 37 + 11) % 1024) + 16 AS width,
               ((i * 97 + 13) % 60000) + 100 AS duration_ms
        FROM range(0, 200) t(i)
    )
    SELECT kind, CAST(count(*) AS BIGINT) AS n,
           AVG(width) AS avg_width,
           AVG(duration_ms) AS avg_duration_ms
    FROM m GROUP BY kind
"""


@query("media_stats", oracle=_MEDIA_STATS_SQL)
def _q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregate over the deterministic synthetic
    media table (arithmetic-derived metadata => the DuckDB oracle
    regenerates it exactly from range()); payload decode paths are covered
    by the real PPM/WAV codec tests in tests/test_similarity_multimodal.py."""
    media = synth_media(spark, n=200)
    return media_stats(media)


@query("knn_bruteforce", oracle="""
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ),
            s AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       list_cosine_similarity(a.e, b.e) AS sc
                FROM v a JOIN v b ON a.vec_id <> b.vec_id
                WHERE a.vec_id < 50
            ),
            r AS (
                SELECT query_id, neighbor_id, sc,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY sc DESC, neighbor_id
                       ) AS rn
                FROM s
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id,
                   ROUND(sc, 6) AS score
            FROM r WHERE rn <= 5
        """)
def _q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 50)
    return knn_bruteforce(emb, queries=probes, k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


def _knn_lsh_oracle_sql(
    k: int = 5,
    n_bits: int = 16,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket_size: int = 10000,
) -> str:
    """operators/similarity.py knn_lsh mirrored: the SAME splitmix64
    ±1 hyperplane literals (plane_signs — single source of truth), sign
    bits from a left-fold dot product (list_reduce == Spark's
    aggregate-from-0.0 fold bit-for-bit, since 0.0 + x == x), banded
    bucket join with the size guard, exact-cosine re-rank, row_number
    top-k with (score DESC, neighbor_id) tie-break."""
    from paragrapher_spark.operators.similarity import plane_signs

    rows = n_bits // bands
    mask = (1 << rows) - 1
    planes = plane_signs(n_bits, dim, seed)
    bit_terms = "\n                 + ".join(
        "(CASE WHEN list_reduce(list_transform(range(1, %d), d -> e[d] * ([%s])[d]), (a, b) -> a + b) >= 0 THEN %d ELSE 0 END)"
        % (dim + 1, ", ".join(str(x) for x in p), 1 << i)
        for i, p in enumerate(planes)
    )
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    sig AS MATERIALIZED (
        SELECT vec_id, e, norm,
               CAST({bit_terms} AS BIGINT) AS bits
        FROM base
    ),
    banded AS MATERIALIZED (
        SELECT vec_id, e, norm, b, (bits >> (b * {rows})) & {mask} AS bv
        FROM sig, range(0, {bands}) r(b)
    ),
    okb AS MATERIALIZED (
        SELECT b, bv FROM banded GROUP BY b, bv
        HAVING count(*) > 1 AND count(*) <= {max_bucket_size}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(a.e, c.e) AS sc
        FROM banded a
        JOIN okb o ON o.b = a.b AND o.bv = a.bv
        JOIN banded c ON c.b = a.b AND c.bv = a.bv
             AND c.vec_id <> a.vec_id
    ),
    ranked AS MATERIALIZED (
        SELECT query_id, neighbor_id, sc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, neighbor_id
               ) AS rn
        FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(sc, 6) AS score
    FROM ranked WHERE rn <= {k}
    """


@query("knn_lsh", oracle=_knn_lsh_oracle_sql())
def _q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_lsh(emb, k=5, n_bits=16, bands=8).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


def _knn_ivf_oracle_sql(
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 3,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """operators/similarity.py knn_ivf with TRAINED centroids mirrored
    exactly — Lloyd unrolled to the same fixed iteration count:

    - seeds: the n_centroids (md5-hash, id)-smallest vectors, the same
      portable 60-bit hash family as dedup/corpus;
    - each round: assignment by ascending (-dot(v,c)/|c|, cid) exactly as
      knn_ivf_fixed's proven fold, then FIXED-POINT re-centering —
      per-coordinate floor(x * 2^24) summed as int64 (exact and
      summation-order-free, which is the whole reason the trained path is
      oracle-expressible at all) divided back in float64;
    - |c| carries train_ivf_centroids' `or 1.0` zero-norm guard
      (coalesce/nullif) — Python _l2 mirrored;
    - tail (probing, home bucket, exact-cosine re-rank, top-k) identical
      to _knn_ivf_fixed_oracle_sql.
    """
    fold = (
        "list_reduce(list_transform(range(1, %d), i -> {a}[i] * {b}[i]),"
        " (acc, x) -> acc + x)" % (dim + 1)
    )
    dot_bc = fold.format(a="b.e", b="c.c")
    dot_qd = fold.format(a="q.e", b="d.e")
    scale = 1 << 24
    mean_list = ",\n                   ".join(
        f"CAST(SUM(CAST(floor(e[{i}] * {scale}.0) AS BIGINT)) AS DOUBLE)"
        f" / CAST(COUNT(*) * {scale} AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    rounds = []
    for t in range(lloyd_iters):
        rounds.append(f"""
    cn{t} AS MATERIALIZED (
        SELECT cid, c,
               coalesce(nullif(sqrt(list_reduce(
                   list_transform(c, x -> x * x), (a, b) -> a + b)), 0.0),
                   1.0) AS cn
        FROM c{t}
    ),
    a{t} AS MATERIALIZED (
        SELECT vec_id, e, cid FROM (
            SELECT b.vec_id, b.e, c.cid,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY -({dot_bc}) / c.cn, c.cid
                   ) AS rn
            FROM base b CROSS JOIN cn{t} c
        ) WHERE rn = 1
    ),
    c{t + 1} AS MATERIALIZED (
        SELECT cid, [{mean_list}] AS c
        FROM a{t} GROUP BY cid
    )""")
    tf = lloyd_iters
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                    (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    c0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, e AS c
        FROM (
            SELECT vec_id, e,
                   ('0x' || substr(md5('ivf:{seed}:' ||
                       CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM base ORDER BY h, vec_id LIMIT {n_centroids}
        )
    ),{",".join(rounds)},
    cents AS MATERIALIZED (
        SELECT cid, c,
               coalesce(nullif(sqrt(list_reduce(
                   list_transform(c, x -> x * x), (a, b) -> a + b)), 0.0),
                   1.0) AS cn
        FROM c{tf}
    ),
    scored AS MATERIALIZED (
        SELECT b.vec_id, b.e, b.norm, c.cid,
               -({dot_bc}) / c.cn AS neg
        FROM base b CROSS JOIN cents c
    ),
    probes AS MATERIALIZED (
        SELECT vec_id, e, norm, cid, rn FROM (
            SELECT vec_id, e, norm, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY neg, cid
                   ) AS rn
            FROM scored
        ) WHERE rn <= {n_probe}
    ),
    home AS MATERIALIZED (
        SELECT vec_id, e, norm, cid FROM probes WHERE rn = 1
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               ({dot_qd}) / (q.norm * d.norm) AS sc
        FROM probes q
        JOIN home d ON d.cid = q.cid AND d.vec_id <> q.vec_id
    ),
    ranked AS MATERIALIZED (
        SELECT query_id, neighbor_id, sc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, neighbor_id
               ) AS rn
        FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(sc, 6) AS score
    FROM ranked WHERE rn <= {k}
    """


@query("knn_ivf", oracle=_knn_ivf_oracle_sql())
def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed approximate all-pairs top-k (coarse k-means quantizer +
    probed buckets) — the scale path beside knn_lsh. Since r3 the Lloyd
    trainer is fixed-point (order-free int64 centroid sums) with a
    portable md5 seed hash, so the FULL pipeline — training included —
    sits under the DuckDB oracle (_knn_ivf_oracle_sql unrolls the same
    3 Lloyd rounds); recall vs brute force additionally pinned in
    tests/test_similarity_multimodal.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_ivf(emb, k=5, n_centroids=16, n_probe=4).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


def _knn_ivf_fixed_oracle_sql(
    k: int = 5, n_centroids: int = 16, n_probe: int = 4, dim: int = 64
) -> str:
    """operators/similarity.py knn_ivf with the fixed quantizer mirrored
    exactly: centroids = vectors of the n_centroids smallest vec_ids
    (norm > 0), assignment by ascending (-dot(v,c)/|c|, cid) — DuckDB's
    left-fold list_reduce reproduces Spark's aggregate-from-0.0 dot
    bit-for-bit, and both engines use correctly-rounded sqrt for |c| —
    home bucket = nearest, candidates = probed-bucket equi-join, exact
    cosine re-rank, (score DESC, neighbor_id) top-k."""
    fold = (
        "list_reduce(list_transform(range(1, %d), i -> {a}[i] * {b}[i]),"
        " (acc, x) -> acc + x)" % (dim + 1)
    )
    dot_vc = fold.format(a="b.e", b="c.c")
    dot_qd = fold.format(a="q.e", b="d.e")
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                    (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c,
               norm AS cn
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_centroids})
    ),
    scored AS MATERIALIZED (
        SELECT b.vec_id, b.e, b.norm, c.cid,
               -({dot_vc}) / c.cn AS neg
        FROM base b CROSS JOIN cents c
    ),
    probes AS MATERIALIZED (
        SELECT vec_id, e, norm, cid, rn FROM (
            SELECT vec_id, e, norm, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY neg, cid
                   ) AS rn
            FROM scored
        ) WHERE rn <= {n_probe}
    ),
    home AS MATERIALIZED (
        SELECT vec_id, e, norm, cid FROM probes WHERE rn = 1
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               ({dot_qd}) / (q.norm * d.norm) AS sc
        FROM probes q
        JOIN home d ON d.cid = q.cid AND d.vec_id <> q.vec_id
    ),
    ranked AS MATERIALIZED (
        SELECT query_id, neighbor_id, sc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, neighbor_id
               ) AS rn
        FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(sc, 6) AS score
    FROM ranked WHERE rn <= {k}
    """


@query("knn_ivf_fixed", oracle=_knn_ivf_fixed_oracle_sql())
def _q_knn_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a FIXED deterministic quantizer (the vectors of the 16
    smallest vec_ids): bucket assignment, probing, and exact-cosine
    re-rank all sit under the oracle — retiring the 'iterative k-means =>
    rows-only' carve-out for everything except Lloyd training itself
    (still covered by knn_ivf + recall tests)."""
    from paragrapher_spark.operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    rows = with_norm(emb).orderBy("vec_id").limit(16).collect()
    cents = [(i, list(r["vec"])) for i, r in enumerate(rows)]
    return knn_ivf(emb, k=5, n_probe=4, centroids=cents).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


_SEMDEDUP_TAU = 0.3


def _semantic_dedup_oracle_sql(
    tau: float, n_centroids: int = 16, dim: int = 64
) -> str:
    """operators/dedup.py semantic_dedup mirrored: the knn_ivf_fixed
    quantizer CTEs (same fixed centroids, same ascending (-dot/|c|, cid)
    home assignment, same left-fold dot), then the within-bucket
    keep-first cosine prune."""
    fold = (
        "list_reduce(list_transform(range(1, %d), i -> {a}[i] * {b}[i]),"
        " (acc, x) -> acc + x)" % (dim + 1)
    )
    dot_vc = fold.format(a="b.e", b="c.c")
    dot_ab = fold.format(a="a.e", b="b.e")
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                    (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c,
               norm AS cn
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_centroids})
    ),
    scored AS MATERIALIZED (
        SELECT b.vec_id, b.e, b.norm, c.cid,
               -({dot_vc}) / c.cn AS neg
        FROM base b CROSS JOIN cents c
    ),
    home AS MATERIALIZED (
        SELECT vec_id, e, norm, cid FROM (
            SELECT vec_id, e, norm, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY neg, cid
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    dropped AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS ida
        FROM home a JOIN home b ON b.cid = a.cid AND b.vec_id < a.vec_id
        WHERE ({dot_ab}) / (a.norm * b.norm) >= {tau}
    )
    SELECT CAST(h.vec_id AS BIGINT) AS vec_id,
           CAST(h.cid AS BIGINT) AS cluster,
           d.ida IS NULL AS keep
    FROM home h LEFT JOIN dropped d ON d.ida = h.vec_id
    """


@query("semantic_dedup", oracle=_semantic_dedup_oracle_sql(_SEMDEDUP_TAU))
def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py semantic_dedup): embedding-space
    dedup — fixed-quantizer bucket assignment (the knn_ivf_fixed
    convention: vectors of the 16 smallest vec_ids), keep-first cosine
    prune within each bucket. (vec_id, cluster, keep), fully gated."""
    from paragrapher_spark.operators.dedup import semantic_dedup
    from paragrapher_spark.operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    rows = with_norm(emb).orderBy("vec_id").limit(16).collect()
    cents = [(i, list(r["vec"])) for i, r in enumerate(rows)]
    return semantic_dedup(emb, cents, threshold=_SEMDEDUP_TAU).select(
        F.col("vec_id").cast("long"), F.col("cluster").cast("long"), "keep"
    )
