"""Training-data queries over ``documents``: text stats, language ID,
dedup, sampling, splits, packing, LM scores, Gopher rules, BPE, PII
scrubbing and the end-to-end ``corpus_pipeline``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash
from paragrapher_spark.functions.text import (
    BPE_TOKEN_PATTERN as _BPE_PATTERN,
    PII_RULES as _PII_RULES,
    detect_language,
    fingerprint,
    text_stats,
)
from paragrapher_spark.kernels.components import connected_components
from paragrapher_spark.operators.dedup import (
    dedup_exact,
    exact_dup_groups,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from paragrapher_spark.queries import query
from paragrapher_spark.queries.code import _md5h
from paragrapher_spark.sources.edges import load_table


@query("exact_dup_groups", oracle="""
            SELECT md5(text) AS content_hash,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS rep_id
            FROM documents GROUP BY md5(text)
        """)
def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs).select(
        "content_hash",
        F.col("n_docs").cast("long"),
        F.col("rep_id").cast("long"),
    )


_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"


def _text_stats_ctes(src: str) -> str:
    """CTE chain computing functions/text.py text_stats over
    ``src(doc_id, text)``; final CTE is ``stats_out`` with the full
    column set of the ``text_stats`` query."""
    return f"""
        stats_t AS (
            SELECT doc_id, text, {_TOKENS} AS toks FROM {src}
        ),
        stats_s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CASE WHEN len(toks) > 0 THEN
                       CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END AS atl,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(text) - length(translate(text, '.,;:!?', '')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE)
                   ELSE 0.0 END AS pr,
                   CASE WHEN len(toks) > 0 THEN
                       1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END AS rr
            FROM stats_t
        ),
        stats_out AS (
            SELECT doc_id, n_tokens, n_chars,
                   ROUND(atl, 6) AS avg_token_len,
                   ROUND(pr, 6) AS punct_ratio,
                   ROUND(rr, 6) AS repetition_ratio,
                   ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * (1.0 - pr) * (1.0 - rr), 6)
                       AS quality_score
            FROM stats_s
        )"""


@query("text_stats", oracle=f"""
            WITH {_text_stats_ctes('documents')}
            SELECT * FROM stats_out
        """)
def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_stats(docs)


_STRAT_FRACTIONS = {"en": 0.5, "zh": 0.9}
_STRAT_DEFAULT = 0.2
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _doc_sample_stratified_sql() -> str:
    """operators/sampling.py stratified_sample replayed: same md5-prefix
    hash, same driver-computed integer thresholds — every keep decision
    identical by construction."""
    from paragrapher_spark.operators.sampling import threshold_for

    h = _md5h("strat", "CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{v}' THEN {threshold_for(f)}"
        for v, f in sorted(_STRAT_FRACTIONS.items())
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents
    WHERE {h} < CASE lang {cases} ELSE {threshold_for(_STRAT_DEFAULT)} END
    """


@query("doc_sample_stratified", oracle=_doc_sample_stratified_sql())
def _q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sample of the documents table
    (operators/sampling.py): en at 0.5, zh at 0.9, everything else at the
    0.2 default — keyed on doc_id, so every keep decision is a pure
    function of the row and the DuckDB oracle replays it bit-for-bit."""
    from paragrapher_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", _STRAT_FRACTIONS, ["doc_id"], default_fraction=_STRAT_DEFAULT
    ).select(F.col("doc_id").cast("long"), "lang")


def _doc_splits_sql() -> str:
    """operators/sampling.py assign_splits replayed: hash space cut at
    the same cumulative-weight integer boundaries."""
    from paragrapher_spark.operators.sampling import threshold_for

    h = _md5h("split", "CAST(doc_id AS VARCHAR)")
    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        whens.append(f"WHEN {h} < {threshold_for(min(acc, 1.0))} THEN '{name}'")
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split
    FROM documents
    """


@query("doc_splits", oracle=_doc_splits_sql())
def _q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) of the
    documents table (operators/sampling.py): the 60-bit md5 hash space
    cut at the cumulative-weight boundaries; disjoint, exhaustive, and
    stable when the corpus grows."""
    from paragrapher_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    return assign_splits(docs, _SPLIT_WEIGHTS, ["doc_id"]).select(
        F.col("doc_id").cast("long"), "split"
    )


def _vocab_per_lang_sql() -> str:
    """_q_vocab_per_lang's twin: sparse (lang, reg, rho) register rows
    merged by GROUP BY max, estimator transliterated from
    hyperball.ball_estimate (exact-BIGINT denominator, literal ln table)."""
    from paragrapher_spark.kernels.hyperball import (
        EST_NUM,
        LN_TABLE,
        M,
        RHO_CAP,
        SMALL_RANGE,
    )

    ln_case = " ".join(
        f"WHEN {z} THEN {LN_TABLE[z - 1]!r}" for z in range(1, M + 1)
    )
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT lang, unnest({_TOKENS}) AS term FROM documents
    ),
    hv AS MATERIALIZED (
        SELECT lang,
               ('0x' || substr(md5(concat_ws(':', 'vocab', '42', term)),
                   1, 15))::BIGINT AS h
        FROM (SELECT DISTINCT lang, term FROM toks)
    ),
    regs AS MATERIALIZED (
        SELECT lang, h % {M} AS reg,
               MAX(CASE WHEN h // {M} = 0 THEN {RHO_CAP}
                        ELSE LEAST(1 + bit_count(((h // {M}) & -(h // {M})) - 1),
                                   {RHO_CAP})
                   END) AS rho
        FROM hv GROUP BY lang, reg
    ),
    est AS (
        SELECT lang, ROUND(CASE WHEN raw <= {SMALL_RANGE!r} AND zeros > 0
                                THEN CASE zeros {ln_case} END
                           ELSE raw END, 6) AS approx_distinct
        FROM (
            SELECT lang, {EST_NUM!r} / CAST(denom AS DOUBLE) AS raw, zeros
            FROM (
                SELECT lang,
                       SUM(CAST(1 AS BIGINT) << ({RHO_CAP} - rho))
                           + ({M} - COUNT(*)) * CAST({2**RHO_CAP} AS BIGINT)
                           AS denom,
                       {M} - COUNT(*) AS zeros
                FROM regs GROUP BY lang
            )
        )
    ),
    exact AS (
        SELECT lang, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_distinct
        FROM toks GROUP BY lang
    )
    SELECT e.lang, x.exact_distinct, e.approx_distinct
    FROM est e JOIN exact x ON x.lang = e.lang
    """


@query("vocab_per_lang", oracle=_vocab_per_lang_sql())
def _q_vocab_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size per language, twice: exact COUNT(DISTINCT) and the
    deterministic HLL sketch (operators/sketches.py — the hyperball
    register machinery lifted to relational group-by shape). BOTH columns
    sit under the gate: the sketch replays bit-for-bit in SQL, so this is
    an approximate operator with exact-hash correctness evidence."""
    from paragrapher_spark.functions.text import tokens
    from paragrapher_spark.operators.sketches import hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    est = hll_distinct(toks, ["lang"], "term", tag="vocab")
    exact = toks.groupBy("lang").agg(
        F.countDistinct("term").cast("long").alias("exact_distinct")
    )
    return est.join(exact, on="lang").select(
        "lang", "exact_distinct", "approx_distinct"
    )


_PACK_BUDGET = 200
_PACK_BUCKETS = 8


@query("doc_packs", oracle=f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id,
               ('0x' || substr(md5(concat_ws(':', 'pack', '42',
                   CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT
                   % {_PACK_BUCKETS} AS bucket,
               CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, bucket, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM base
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bucket AS INTEGER) AS bucket,
           n_tokens, tokens_before,
           CAST(tokens_before // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM cum
    """)
def _q_doc_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing (operators/packing.py): documents
    next-fit packed into 200-token packs within 8 md5 hash buckets —
    bucket, running token total, and pack id are all exact integer
    functions of the rows, replayed bit-for-bit by the oracle."""
    from paragrapher_spark.operators.packing import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(
        docs, _PACK_BUDGET, n_buckets=_PACK_BUCKETS
    ).select(
        F.col("doc_id").cast("long"),
        F.col("bucket").cast("int"),
        F.col("n_tokens").cast("long"),
        F.col("tokens_before").cast("long"),
        F.col("pack_id").cast("long"),
    )


def _corpus_pipeline_sql() -> str:
    """_q_corpus_pipeline's twin: every stage's existing SQL twin chained
    in one WITH RECURSIVE — exact-dedup reps, minhash pairs over the kept
    set (same builder, source='kept'), recursive-CTE closure for the
    near-dup clusters, text-stats CTEs, the sampling/split thresholds,
    and the per-(split, bucket) packing window."""
    from paragrapher_spark.operators.sampling import threshold_for

    h_strat = _md5h("strat", "CAST(doc_id AS VARCHAR)")
    h_split = _md5h("split", "CAST(doc_id AS VARCHAR)")
    h_pack = _md5h("pack", "CAST(doc_id AS VARCHAR)")
    strat_cases = " ".join(
        f"WHEN '{v}' THEN {threshold_for(f)}"
        for v, f in sorted(_STRAT_FRACTIONS.items())
    )
    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        whens.append(
            f"WHEN {h_split} < {threshold_for(min(acc, 1.0))} THEN '{name}'"
        )
    return f"""
    WITH RECURSIVE reps AS (
        SELECT md5(text) AS h, min(doc_id) AS rep
        FROM documents GROUP BY md5(text)
    ),
    kept AS MATERIALIZED (
        SELECT d.doc_id, d.text FROM documents d
        JOIN reps r ON r.rep = d.doc_id
    ),
    ndpairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_minhash_oracle_sql(source='kept')}) mh
    ),
    ndnodes AS (SELECT id_a AS id FROM ndpairs UNION SELECT id_b FROM ndpairs),
    ndsym AS (
        SELECT id_a AS u, id_b AS v FROM ndpairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM ndpairs
    ),
    ndr(a, b) AS (
        SELECT id, id FROM ndnodes
        UNION
        SELECT ndr.a, s.v FROM ndr JOIN ndsym s ON s.u = ndr.b
    ),
    ndcomp AS MATERIALIZED (
        SELECT a AS id, MIN(b) AS component FROM ndr GROUP BY a
    ),
    canon AS MATERIALIZED (
        SELECT k.doc_id, k.text FROM kept k
        LEFT JOIN ndcomp c ON c.id = k.doc_id
        WHERE c.component IS NULL OR c.component = k.doc_id
    ),
    {_text_stats_ctes('canon')},
    surv AS MATERIALIZED (
        SELECT s.doc_id, s.n_tokens, d.lang
        FROM stats_out s JOIN documents d USING (doc_id)
        WHERE s.quality_score >= 0.3 AND s.n_tokens >= 8
    ),
    samp AS MATERIALIZED (
        SELECT * FROM surv
        WHERE {h_strat} < CASE lang {strat_cases}
                          ELSE {threshold_for(_STRAT_DEFAULT)} END
    ),
    spl AS (
        SELECT doc_id, lang, n_tokens,
               CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split,
               {h_pack} % {_PACK_BUCKETS} AS bucket
        FROM samp
    ),
    cum AS (
        SELECT doc_id, lang, split, n_tokens, bucket,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY split, bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM spl
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, split,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(bucket AS INTEGER) AS bucket,
           CAST(tokens_before // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM cum
    """


def _minhash_oracle_sql(
    num_hashes: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    threshold: float = 0.35,
    seed: int = 42,
    max_bucket_size: int = 1000,
    source: str = "documents",
) -> str:
    """operators/dedup.py minhash_candidates mirrored exactly: md5-derived
    shingle hashes into [0, 2^31), the same splitmix-derived universal-hash
    (a, b) literals (imported from _hash_coeffs — single source of truth),
    banded signature-slice equi-join with the bucket-size guard, estimator
    = equal-components / num_hashes (exact double: n/64)."""
    from paragrapher_spark.operators.dedup import _C31, _P31, _hash_coeffs

    rows = num_hashes // bands
    coeffs = _hash_coeffs(num_hashes, seed)
    mins = ",\n               ".join(
        f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {_P31}))"
        for a, b in coeffs
    )
    est = f"CAST(len(list_filter(range(1, {num_hashes} + 1), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {float(num_hashes)}"
    return f"""
    WITH sht AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - {shingle_k - 1}, 1) + 1),
                   i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), {shingle_k})), 1, 15))::BIGINT % {_C31}
               )) AS sh
        FROM {source}
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               [{mins}] AS sig
        FROM sht
    ),
    bandt AS MATERIALIZED (
        SELECT doc_id, b,
               list_slice(sig, b * {rows} + 1, b * {rows} + {rows}) AS bh
        FROM sigs, range(0, {bands}) r(b)
    ),
    okb AS MATERIALIZED (
        SELECT b, bh FROM bandt GROUP BY b, bh
        HAVING count(*) > 1 AND count(*) <= {max_bucket_size}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM bandt a
        JOIN okb o ON o.b = a.b AND o.bh = a.bh
        JOIN bandt c ON c.b = a.b AND c.bh = a.bh AND c.doc_id > a.doc_id
    )
    SELECT CAST(cand.id_a AS BIGINT) AS id_a,
           CAST(cand.id_b AS BIGINT) AS id_b,
           {est} AS est_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = cand.id_a
    JOIN sigs sb ON sb.doc_id = cand.id_b
    WHERE {est} >= {threshold}
    """


@query("corpus_pipeline", oracle=_corpus_pipeline_sql())
def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone: the whole training-data pipeline composed under ONE
    oracle — exact dedup (keep-min-id) -> MinHash near-dup clusters ->
    canonical representatives -> quality/length filter -> per-language
    stratified sample -> train/val/test split -> token-budget sequence
    packing. Six subsystems chained (dedup, components, text, sampling,
    splits, packing), every stage deterministic, the final
    (doc_id, lang, split, n_tokens, bucket, pack_id) assignment replayed
    bit-for-bit by the DuckDB twin."""
    from paragrapher_spark.operators.sampling import (
        assign_splits,
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_exact(docs)
    pairs = minhash_candidates(kept, num_hashes=64, bands=16, threshold=0.35)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).components
    canon = (
        kept.join(comp, kept["doc_id"] == comp["id"], "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "text")
    )
    qual = text_stats(canon).where(
        (F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 8)
    )
    surv = qual.select("doc_id", "n_tokens").join(
        docs.select("doc_id", "lang"), on="doc_id"
    )
    sampled = stratified_sample(
        surv, "lang", _STRAT_FRACTIONS, ["doc_id"], default_fraction=_STRAT_DEFAULT
    )
    split = assign_splits(sampled, _SPLIT_WEIGHTS, ["doc_id"])
    h = portable_hash("pack", 42, "doc_id")
    withb = split.withColumn(
        "bucket", F.pmod(h, F.lit(_PACK_BUCKETS)).cast("int")
    )
    return withb.select(
        F.col("doc_id").cast("long"),
        "lang",
        "split",
        F.col("n_tokens").cast("long"),
        "bucket",
        F.expr(
            f"coalesce(sum(n_tokens) over (partition by split, bucket "
            f"order by doc_id rows between unbounded preceding and 1 "
            f"preceding), 0) div {_PACK_BUDGET}"
        ).cast("long").alias("pack_id"),
    )


@query("split_contamination", oracle=f"""
    WITH s AS MATERIALIZED ({_doc_splits_sql()}),
    t AS MATERIALIZED (
        SELECT d.doc_id, s.split, {_TOKENS} AS toks
        FROM documents d JOIN s ON s.doc_id = d.doc_id
    ),
    g AS MATERIALIZED (
        SELECT doc_id, split,
               CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
               ELSE [array_to_string(toks, ' ')] END AS grams
        FROM t
    ),
    e AS MATERIALIZED (SELECT doc_id, split, unnest(grams) AS gram FROM g),
    dirty AS MATERIALIZED (
        SELECT DISTINCT gram FROM e WHERE split = 'train'
    ),
    clean AS MATERIALIZED (
        SELECT doc_id, gram FROM e WHERE split = 'test'
    ),
    c AS (SELECT doc_id, count(*) AS n_grams FROM clean GROUP BY doc_id),
    sh AS (
        SELECT c2.doc_id, count(*) AS n_shared
        FROM clean c2 JOIN dirty d2 ON d2.gram = c2.gram
        GROUP BY c2.doc_id
    )
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(c.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(COALESCE(sh.n_shared, 0) / CAST(c.n_grams AS DOUBLE), 6)
               AS frac_shared
    FROM c LEFT JOIN sh ON sh.doc_id = c.doc_id
    """)
def _q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION audit (operators/dedup.py
    split_contamination): per test-split document, how many of its
    distinct word 3-grams also occur anywhere in the train split — the
    n-gram collision rule every LLM pipeline runs before training. The
    split assignment is the deterministic md5 cut (doc_splits); the scale
    path is a left-semi join against the distinct train gram set (linear,
    no pair blow-up)."""
    from paragrapher_spark.operators.dedup import split_contamination
    from paragrapher_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    sp = assign_splits(docs, _SPLIT_WEIGHTS, ["doc_id"])
    res = split_contamination(sp, n=3)
    return res.select(
        F.col("doc_id").cast("long"),
        F.col("n_grams").cast("long"),
        F.col("n_shared").cast("long"),
        F.round("frac_shared", 6).alias("frac_shared"),
    )


# PII oracle patterns: the SAME strings as functions/text.PII_RULES
# (single-sourced so the Spark scrub and the SQL twin cannot drift)
_PII_EMAIL = _PII_RULES[0][1]
_PII_NUMBER = _PII_RULES[1][1]


@query("pii_scrub", oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com ref '
                         || CAST(doc_id * 7919 + 1000000 AS VARCHAR)
                    ELSE text END AS text
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_NUMBER}')) AS BIGINT)
               AS n_number,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}',
               '<EMAIL>', 'g'), '{_PII_NUMBER}', '<NUM>', 'g'))
               AS scrubbed_md5
    FROM planted
    """)
def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.py redact_pii) with deterministic
    planted PII: every 5th document gets a synthetic email + numeric id
    appended, then the scrub must find exactly them and the md5 of the
    scrubbed text must match the oracle's byte-for-byte (proving the
    replacement itself, not just the counts, is identical). Map-only JVM
    regex stage — the Dolma/CCNet redaction pass shape."""
    from paragrapher_spark.functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com ref "),
                (F.col("doc_id") * 7919 + 1000000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    res = redact_pii(planted)
    return res.select(
        F.col("doc_id").cast("long"),
        "n_email",
        "n_number",
        F.md5(F.col("scrubbed")).alias("scrubbed_md5"),
    )


_DOC_TOP_TERMS_SQL = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ),
    tf AS MATERIALIZED (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ),
    dft AS MATERIALIZED (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, dft.df,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC
               ) AS rank
        FROM tf JOIN dft USING (term)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """


@query("doc_top_terms", oracle=_DOC_TOP_TERMS_SQL)
def _q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document (functions/text.py
    top_terms): integer-exact TF/DF keyword extraction ranked
    (tf DESC, df ASC, term ASC) — the log-free TF-IDF ordering,
    WindowGroupLimit-bounded top-k. No df cap here: the synthetic corpus
    has a ~31-term vocabulary, so a boilerplate cap would empty the
    result (the cap itself is exercised in tests/test_top_terms.py)."""
    from paragrapher_spark.functions.text import top_terms

    docs = load_table(spark, sf_dir, "documents")
    return top_terms(docs, k=3)


def _lang_pred_ctes(src: str) -> str:
    """CTE chain computing per-doc ``lang_pred`` over ``src(doc_id, text)``
    — functions/text.py detect_language re-expressed in SQL: same lexicons,
    same han-density rule, same max-hits / min-code tie-break. Final CTE is
    ``lang_w(doc_id, lang_pred)``."""
    from paragrapher_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)  # de, en, es, fr

    def lex(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    hits = ",\n               ".join(
        f"len(list_filter(toks, x -> list_contains({lex(lang)}, x))) AS s_{lang}"
        for lang in langs
    )
    # first lang (lexicographic order) attaining the max wins — identical
    # to the reversed >=-fold in detect_language
    cases = []
    for i, lang in enumerate(langs):
        rest = [f"s_{o}" for o in langs[i + 1:]]
        if rest:
            ge = f"s_{lang} >= greatest({', '.join(rest)})" if len(rest) > 1 else f"s_{lang} >= {rest[0]}"
            cases.append(f"WHEN {ge} THEN '{lang}'")
        else:
            cases.append(f"ELSE '{lang}'")
    all_s = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
        lang_t AS (
            SELECT doc_id, text,
                   length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS han,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
            FROM {src}
        ),
        lang_s AS (
            SELECT doc_id, text, han,
               {hits}
            FROM lang_t
        ),
        lang_w AS (
            SELECT doc_id,
                   CASE WHEN han * 2 >= length(text) THEN 'zh'
                        WHEN greatest({all_s}) < 1 THEN 'und'
                        {' '.join(cases[:-1])}
                        {cases[-1]} END AS lang_pred
            FROM lang_s
        )"""


@query("corpus_clean", oracle=f"""
            WITH reps AS (
                SELECT md5(text) AS h, min(doc_id) AS rep
                FROM documents GROUP BY md5(text)
            ),
            kept AS MATERIALIZED (
                SELECT d.doc_id, d.text FROM documents d
                JOIN reps r ON r.rep = d.doc_id
            ),
            {_text_stats_ctes('kept')},
            {_lang_pred_ctes('kept')}
            SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
                   s.n_tokens, s.quality_score, w.lang_pred
            FROM stats_out s JOIN lang_w w ON w.doc_id = s.doc_id
            WHERE s.quality_score >= 0.3 AND s.n_tokens >= 8
        """)
def _q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data cleaning pipeline COMPOSED end-to-end: exact
    dedup (keep-min-id) -> token/quality stats -> language ID -> quality
    and length filters. One oracle-checked query proving the operators
    chain (the pipeline brief's actual shape, not just isolated pieces)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_exact(docs)
    stats = text_stats(kept)
    langs = kept.select(
        F.col("doc_id"), detect_language(F.col("text")).alias("lang_pred")
    )
    return (
        stats.join(langs, on="doc_id")
        .where((F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 8))
        .select(
            F.col("doc_id").cast("long"),
            F.col("n_tokens").cast("long"),
            "quality_score",
            "lang_pred",
        )
    )


def _language_id_oracle_sql() -> str:
    return f"""
        WITH {_lang_pred_ctes('documents')}
        SELECT lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM lang_w GROUP BY lang_pred
    """


@query("language_id", oracle=_language_id_oracle_sql())
def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(detect_language(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("minhash_near_dups", oracle=_minhash_oracle_sql())
def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(
        docs, num_hashes=64, bands=16, threshold=0.35
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "est_jaccard"
    )


def _near_dup_canonical_sql() -> str:
    """_q_near_dup_canonical's twin: the minhash candidate SQL (same
    builder the `minhash_near_dups` gate uses — single source of truth)
    as a subquery, transitive closure by recursive CTE, canonical =
    MIN(reachable id), docs without near-dups mapping to themselves."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_minhash_oracle_sql()}) mh
    ),
    nodes AS MATERIALIZED (
        SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ),
    sym AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
    ),
    rr(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT rr.a, s.v FROM rr JOIN sym s ON s.u = rr.b
    ),
    comp AS MATERIALIZED (
        SELECT a AS id, MIN(b) AS component FROM rr GROUP BY a
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS canonical_id
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


@query("near_dup_canonical", oracle=_near_dup_canonical_sql())
def _q_near_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup and graph subsystems COMPOSED: MinHash+LSH candidate
    pairs (operators/dedup.py) become an undirected dup graph, Jayanti-
    Tarjan-equivalent WCC (kernels/components.py, min-id roots) groups
    transitive near-dups, and every document maps to the minimum doc_id
    of its dup cluster (itself when it has no near-dup) — the canonical-
    representative assignment a 100 TB cleaning pipeline actually runs.
    Oracle: the minhash SQL twin feeding a recursive-CTE closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidates(docs, num_hashes=64, bands=16, threshold=0.35)
    dup_edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(dup_edges).components
    return (
        docs.select(F.col("doc_id").cast("long"))
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("canonical_id"),
        )
    )


def _simhash_oracle_sql(max_hamming: int = 8) -> str:
    """operators/dedup.py simhash_candidates mirrored: 60-bit SimHash
    (md5_60 per token, majority bit-vote 2*ones > n), 4x15-bit
    pigeonhole bands, popcount(xor) Hamming filter. Docs with zero tokens
    hash to 0 and participate in banding, exactly like the kernel."""
    from paragrapher_spark.operators.dedup import SIMHASH_BITS

    svotes = ",\n               ".join(
        f"sum((h >> {j}) & 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    sbits = "\n                 + ".join(
        f"(CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tokst AS MATERIALIZED (
        SELECT doc_id, {_TOKENS} AS tk FROM documents
    ),
    tht AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(tk,
                   t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS h
        FROM tokst
    ),
    votes AS MATERIALIZED (
        SELECT doc_id, count(*) AS n,
               {svotes}
        FROM tht GROUP BY doc_id
    ),
    sigs AS MATERIALIZED (
        SELECT t.doc_id,
               COALESCE(CAST({sbits} AS BIGINT), 0) AS sh
        FROM tokst t LEFT JOIN votes v ON v.doc_id = t.doc_id
    ),
    blocks AS MATERIALIZED (
        SELECT doc_id, sh, b, (sh >> (b * 15)) & 32767 AS bv
        FROM sigs, range(0, 4) r(b)
    )
    SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(c.doc_id AS BIGINT) AS id_b,
           CAST(bit_count(xor(a.sh, c.sh)) AS BIGINT) AS hamming
    FROM blocks a
    JOIN blocks c ON c.b = a.b AND c.bv = a.bv AND c.doc_id > a.doc_id
    WHERE bit_count(xor(a.sh, c.sh)) <= {max_hamming}
    """


@query("simhash_near_dups", oracle=_simhash_oracle_sql())
def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs, max_hamming=8).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        F.col("hamming").cast("long"),
    )


@query("ngram_jaccard", oracle=f"""
            WITH t AS (
                SELECT doc_id, {_TOKENS} AS toks FROM documents
            ),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3 THEN
                           list_distinct(list_transform(
                               range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                       ELSE [array_to_string(toks, ' ')] END AS grams
                FROM t
            ),
            e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            c AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
            sh AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(count(*) AS DOUBLE) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   ROUND(shared / (ca.n + cb.n - shared), 6) AS jaccard
            FROM sh
            JOIN c ca ON ca.doc_id = sh.id_a
            JOIN c cb ON cb.doc_id = sh.id_b
            WHERE shared / (ca.n + cb.n - shared) >= 0.2
        """)
def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_FINGERPRINT_SQL = r"""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN length(hx) = 0 THEN 0 ELSE CAST(list_reduce(
               list_transform(range(0, length(hx) // 2),
                   i -> CAST(strpos('0123456789ABCDEF',
                                    substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1
                             AS HUGEINT) * 16
                        + (strpos('0123456789ABCDEF',
                                  substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1)),
               (acc, byte) -> (acc * 257 + byte) % 2305843009213693951
           ) AS BIGINT) END AS fingerprint
    FROM b
"""


@query("doc_fingerprint", oracle=_FINGERPRINT_SQL)
def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprints (order-sensitive content ids —
    the reference's converter checksum, test3:303). Oracle: DuckDB HUGEINT
    (int128) Horner fold over the hex-decoded utf-8 bytes — no int64
    overflow; also exact-tested in tests/test_dedup_text.py."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select(F.col("doc_id").cast("long"), "fingerprint")


_COOC_WINDOW = 3
_COOC_MIN_COUNT = 2


@query("cooccurrence", oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS d,
               unnest({_TOKENS}) AS tok,
               unnest(range(len({_TOKENS}))) AS pos
        FROM documents
    ),
    pairs AS (
        SELECT t1.tok AS a, t2.tok AS b
        FROM toks t1
        JOIN toks t2 ON t2.d = t1.d
            AND t2.pos > t1.pos AND t2.pos <= t1.pos + {_COOC_WINDOW}
    )
    SELECT a, b, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY a, b HAVING count(*) >= {_COOC_MIN_COUNT}
    """)
def _q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts over the documents table
    (functions/text.py cooccurrence_counts — the word2vec/GloVe/PPMI
    preprocessing stage): ordered token pairs within a 3-token forward
    window, exact global counts, min_count=2 floor. All-integer output;
    the oracle replays the window join and every count bit-for-bit."""
    from paragrapher_spark.functions.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    return cooccurrence_counts(
        docs, window=_COOC_WINDOW, min_count=_COOC_MIN_COUNT
    )


_LM_SCALE = 10**9


@query("doc_lm_score", oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS d,
               unnest({_TOKENS}) AS tok,
               unnest(range(len({_TOKENS}))) AS pos
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT t1.d, t1.tok AS w1, t2.tok AS w2
        FROM toks t1 JOIN toks t2 ON t2.d = t1.d AND t2.pos = t1.pos + 1
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    per AS (
        SELECT bg.d, count(*) AS n_bigrams,
               CAST(SUM((c12.c12 * CAST({_LM_SCALE} AS BIGINT)) // c1.c1)
                   AS BIGINT) AS fp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY bg.d
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(per.fp, 0) AS BIGINT) AS lm_fp_sum,
           CAST(per.fp AS DOUBLE)
               / CAST(per.n_bigrams * CAST({_LM_SCALE} AS BIGINT) AS DOUBLE)
               AS lm_score
    FROM documents LEFT JOIN per ON per.d = documents.doc_id
    """)
def _q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per document (functions/text.py
    lm_bigram_scores — the CCNet-style quality bucket signal) with the
    corpus as its own LM: per-bigram MLE probabilities in 1e-9 fixed
    point, summed exactly; lm_score is ONE IEEE division. Docs with <2
    tokens keep a NULL score."""
    from paragrapher_spark.functions.text import lm_bigram_scores

    docs = load_table(spark, sf_dir, "documents")
    res = lm_bigram_scores(docs, scale=_LM_SCALE)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_bigrams",
        "lm_fp_sum",
        "lm_score",
    )


@query("lm_quality_buckets", oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS d,
               unnest({_TOKENS}) AS tok,
               unnest(range(len({_TOKENS}))) AS pos
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT t1.d, t1.tok AS w1, t2.tok AS w2
        FROM toks t1 JOIN toks t2 ON t2.d = t1.d AND t2.pos = t1.pos + 1
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    per AS (
        SELECT bg.d, count(*) AS n_bigrams,
               CAST(SUM((c12.c12 * CAST({_LM_SCALE} AS BIGINT)) // c1.c1)
                   AS BIGINT) AS fp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY bg.d
    ),
    sc AS MATERIALIZED (
        SELECT doc_id, lang,
               CASE WHEN per.n_bigrams > 0 THEN per.fp // per.n_bigrams
                    END AS q
        FROM documents LEFT JOIN per ON per.d = documents.doc_id
    ),
    ranked AS (
        SELECT lang, q,
               row_number() OVER (PARTITION BY lang ORDER BY q) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM sc WHERE q IS NOT NULL
    ),
    thr AS (
        SELECT lang,
               MAX(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN q END) AS p25,
               MAX(CASE WHEN rn = ((n - 1) * 1) // 2 + 1 THEN q END) AS p50,
               MAX(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN q END) AS p75
        FROM ranked GROUP BY lang
    )
    SELECT CAST(sc.doc_id AS BIGINT) AS doc_id, sc.lang,
           CAST(sc.q AS BIGINT) AS lm_fp_mean,
           CASE WHEN sc.q IS NULL THEN 'unscored'
                WHEN sc.q <= thr.p25 THEN 'q1'
                WHEN sc.q <= thr.p50 THEN 'q2'
                WHEN sc.q <= thr.p75 THEN 'q3'
                ELSE 'q4' END AS bucket
    FROM sc LEFT JOIN thr ON thr.lang = sc.lang
    """)
def _q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality-bucket assignment, composed from this round's two
    new operators: per-doc bigram-LM fixed-point score (lm_bigram_scores)
    cut at per-language exact quartiles (group_quantiles) into
    q1..q4 — the head/middle/tail split CCNet feeds to sampling. The
    per-doc scalar is the all-integer mean lm_fp_sum DIV n_bigrams, so
    every threshold and every bucket decision replays exactly; docs
    without bigrams bucket as 'unscored'."""
    from paragrapher_spark.functions.stats import group_quantiles
    from paragrapher_spark.functions.text import lm_bigram_scores

    docs = load_table(spark, sf_dir, "documents")
    scores = (
        lm_bigram_scores(docs, scale=_LM_SCALE)
        .join(docs.select(F.col("doc_id").alias("id"), "lang"), on="id")
        .withColumn(
            "q",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("lm_fp_sum DIV n_bigrams"),
            ),
        )
    )
    thr = group_quantiles(
        scores.where(F.col("q").isNotNull()),
        ["lang"],
        "q",
        qs=("0.25", "0.5", "0.75"),
    ).select("lang", "p25", "p50", "p75")
    bucket = (
        F.when(F.col("q").isNull(), F.lit("unscored"))
        .when(F.col("q") <= F.col("p25"), F.lit("q1"))
        .when(F.col("q") <= F.col("p50"), F.lit("q2"))
        .when(F.col("q") <= F.col("p75"), F.lit("q3"))
        .otherwise(F.lit("q4"))
    )
    return (
        scores.join(F.broadcast(thr), on="lang", how="left")
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "lang",
            F.col("q").cast("long").alias("lm_fp_mean"),
            bucket.alias("bucket"),
        )
    )


@query("dup_gram_stats", oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    g AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
               ELSE [array_to_string(toks, ' ')] END AS grams
        FROM t
    ),
    e AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM g),
    c AS (SELECT doc_id, count(*) AS n_grams FROM e GROUP BY doc_id),
    dup AS (
        SELECT gram FROM (
            SELECT gram, count(*) AS df FROM e GROUP BY gram
        ) WHERE df >= 2
    ),
    sh AS (
        SELECT e.doc_id, count(*) AS n_dup
        FROM e JOIN dup USING (gram) GROUP BY e.doc_id
    )
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(c.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(sh.n_dup, 0) AS BIGINT) AS n_dup,
           ROUND(COALESCE(sh.n_dup, 0) / CAST(c.n_grams AS DOUBLE), 6)
               AS frac_dup
    FROM c LEFT JOIN sh ON sh.doc_id = c.doc_id
    """)
def _q_dup_gram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus duplicate n-gram fraction (operators/dedup.py
    dup_gram_stats — the Lee et al. 2022 / Dolma curation signal): per
    doc, how many of its distinct word 3-grams occur in any OTHER doc.
    Linear inverted-index audit, no pairwise blow-up."""
    from paragrapher_spark.operators.dedup import dup_gram_stats

    docs = load_table(spark, sf_dir, "documents")
    res = dup_gram_stats(docs)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_grams",
        "n_dup",
        "frac_dup",
    )


@query("doc_length_quantiles", oracle="""
    WITH ranked AS (
        SELECT lang, n_chars AS v,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS v_min,
           CAST(MAX(v) AS BIGINT) AS v_max,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 1) // 2 + 1 THEN v END)
               AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN v END)
               AS BIGINT) AS p90,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN v END)
               AS BIGINT) AS p99
    FROM ranked GROUP BY lang
    """)
def _q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (functions/stats.py): the
    filter-threshold-calibration query of a curation pipeline. Type-1
    quantiles at all-integer ranks ((n-1)*num DIV den + 1), so every
    output column is gated exactly."""
    from paragrapher_spark.functions.stats import group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    res = group_quantiles(docs, ["lang"], "n_chars")
    return res.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("v_min").cast("long").alias("v_min"),
        F.col("v_max").cast("long").alias("v_max"),
        F.col("p50").cast("long").alias("p50"),
        F.col("p90").cast("long").alias("p90"),
        F.col("p99").cast("long").alias("p99"),
    )


# functions/text.py gopher_rules mirrored term-for-term: the five
# scalar rules are per-row expressions; the top-bigram rule is the
# same explode -> (doc, gram) count -> rank-1 window (ties broken
# count DESC, gram ASC) -> left join back. All ratios round(6) on
# exact integer quotients. Thresholds = the query's
# (min_words=20, min_stop_hits=1, rest Gopher defaults).
@query("gopher_rules", oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, text, {_TOKENS} AS toks,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks_lo
        FROM documents
    ),
    sc AS MATERIALIZED (
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_words,
               CASE WHEN len(toks) > 0 THEN
                   ROUND(list_sum(list_transform(toks, x -> length(x)))
                         / len(toks), 6)
               ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(toks) > 0 THEN
                   ROUND(((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) / 3)
                         / len(toks), 6)
               ELSE 0.0 END AS symbol_ratio,
               CASE WHEN len(toks) > 0 THEN
                   ROUND(len(list_filter(toks,
                             x -> regexp_matches(x, '[A-Za-z]')))
                         / len(toks), 6)
               ELSE 0.0 END AS frac_alpha_words,
               len(list_intersect(list_distinct(toks_lo),
                   ['the','be','to','of','and','that','have','with']))
                   AS n_stop_hits
        FROM t
    ),
    bg AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS gram
        FROM t WHERE len(toks) >= 2
    ),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
    top AS (
        SELECT doc_id, c AS top_c, gram AS top_gram
        FROM (SELECT doc_id, c, gram,
                     row_number() OVER (PARTITION BY doc_id
                         ORDER BY c DESC, gram ASC) AS rn
              FROM cnt)
        WHERE rn = 1
    ),
    m AS (
        SELECT sc.*,
               CASE WHEN top.top_c IS NOT NULL AND sc.n_chars > 0 THEN
                   ROUND(top.top_c * length(top.top_gram) / sc.n_chars, 6)
               ELSE 0.0 END AS frac_top_bigram
        FROM sc LEFT JOIN top USING (doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mean_word_len, symbol_ratio, frac_alpha_words,
           CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
           frac_top_bigram,
           (n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1
            AND frac_alpha_words >= 0.8
            AND n_stop_hits >= 1
            AND frac_top_bigram <= 0.20) AS gopher_pass
    FROM m
    """)
def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-filter battery (functions/text.py gopher_rules — Rae
    et al. 2021 App. A): word count, mean word length, symbol ratio,
    alpha-word fraction, distinct-stopword hits, top-bigram character
    fraction, and the conjunctive pass verdict. Thresholds scaled to the
    synthetic corpus (min_words=20, min_stop_hits=1); every ratio is a
    round(6) integer quotient so the SQL twin gates all rows."""
    from paragrapher_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    res = gopher_rules(docs, min_words=20, min_stop_hits=1)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long"),
        "mean_word_len",
        "symbol_ratio",
        "frac_alpha_words",
        F.col("n_stop_hits").cast("long"),
        "frac_top_bigram",
        "gopher_pass",
    )


# operators/dedup.py span_dedup mirrored: the same 16-token window
# chunking (ceil(len/16), min 1 — empty docs yield one '' span),
# global keep-first by (doc_id, idx), string_agg reassembly in
# span order.
@query("span_dedup", oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    s AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, greatest(CAST(ceil(len(toks) / 16.0) AS BIGINT), 1)),
                   i -> {{'idx': i,
                          'span': array_to_string(list_slice(toks,
                                      CAST(i * 16 + 1 AS BIGINT),
                                      CAST(i * 16 + 16 AS BIGINT)), ' ')}})) AS u
        FROM t
    ),
    e AS MATERIALIZED (
        SELECT doc_id, u.idx AS idx, u.span AS span FROM s
    ),
    kept AS (
        SELECT doc_id, idx, span
        FROM (SELECT doc_id, idx, span,
                     row_number() OVER (PARTITION BY span
                         ORDER BY doc_id, idx) AS rn
              FROM e)
        WHERE rn = 1
    ),
    re AS (
        SELECT doc_id,
               string_agg(span, ' ' ORDER BY idx) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_spans FROM e GROUP BY doc_id)
    SELECT CAST(tot.doc_id AS BIGINT) AS doc_id,
           COALESCE(re.clean_text, '') AS clean_text,
           CAST(tot.n_spans AS BIGINT) AS n_spans,
           CAST(tot.n_spans - COALESCE(re.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN re ON re.doc_id = tot.doc_id
    """)
def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup (operators/dedup.py span_dedup — Raffel et al.
    2020 §2.2, with fixed 16-token windows standing in for three-sentence
    spans): keep the globally-first occurrence of every distinct span,
    reassemble docs from survivors. Returns the cleaned text itself plus
    removal counts, all exactly SQL-expressible."""
    from paragrapher_spark.operators.dedup import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    res = span_dedup(docs, span_tokens=16)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        "clean_text",
        F.col("n_spans").cast("long"),
        F.col("n_removed").cast("long"),
    )


# BPE-ish pre-tokenizer regex, single-sourced from the Spark operator so
# the two engines cannot drift; SQL string literal needs '' for '
_BPE_SQL_PATTERN = _BPE_PATTERN.replace("'", "''")


# functions/text.py bpe_token_count mirrored: the regex is the
# SAME string (BPE_TOKEN_PATTERN, single-sourced below via
# _BPE_SQL_PATTERN), whole-match extraction in both engines.
@query("token_counts", oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len({_TOKENS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}'))
               AS BIGINT) AS n_bpe_tokens,
           CASE WHEN len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')) > 0
                THEN ROUND(length(text)
                    / len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')), 6)
                ELSE 0.0 END AS chars_per_token
    FROM documents
    """)
def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting (functions/text.py bpe_token_count — the
    brief's 'whitespace + BPE-ish regex' pair): per doc, whitespace token
    count, GPT-2-style pre-token count (RE2∩Java regex, single-sourced as
    BPE_TOKEN_PATTERN so the SQL twin replays the same stream), and the
    chars-per-pre-token compression proxy."""
    from paragrapher_spark.functions.text import bpe_token_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    bpe = bpe_token_count(t)
    return docs.select(
        F.col("doc_id").cast("long"),
        token_count(t).cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.when(bpe > 0, F.round(F.length(t) / bpe, 6))
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )


_BPE_MERGE_TOP_K = 50


def _bpe_merge_pairs_oracle_sql(top_k: int) -> str:
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT unnest(regexp_extract_all(text, '{_BPE_SQL_PATTERN}'))
                AS tok
            FROM documents
        ),
        vocab AS MATERIALIZED (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt
            FROM toks GROUP BY tok
        ),
        pos AS (
            SELECT tok, cnt, unnest(range(1, length(tok))) AS i
            FROM vocab WHERE length(tok) >= 2
        )
        SELECT substr(tok, CAST(i AS INTEGER), 1) AS "left",
               substr(tok, CAST(i AS INTEGER) + 1, 1) AS "right",
               CAST(SUM(cnt) AS BIGINT) AS n
        FROM pos GROUP BY 1, 2
        ORDER BY n DESC, "left", "right" LIMIT {top_k}
    """


@query("bpe_merge_pairs", oracle=_bpe_merge_pairs_oracle_sql(_BPE_MERGE_TOP_K))
def _q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training step (functions/text.py bpe_merge_pairs —
    Sennrich et al. 2016): adjacent character-pair counts within
    BPE_TOKEN_PATTERN pre-tokens, aggregated at the distinct-token level
    and weighted by token frequency; top-50 merge candidates under the
    total order (n DESC, left, right)."""
    from paragrapher_spark.functions.text import bpe_merge_pairs

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_pairs(docs, top_k=_BPE_MERGE_TOP_K)
