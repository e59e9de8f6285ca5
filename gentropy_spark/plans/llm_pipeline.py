"""LLM-training-data pipeline queries (SURVEY §2.E) on documents/embeddings.

Dedup, similarity search and text analysis as first-class engine
capabilities. Oracle-exactness notes: tokenization regexes behave
identically under Java regex and RE2; integer/integer divisions are
exact; cosine values are rounded to 6 dp *before* thresholding and
ranking so both engines make identical decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gentropy_spark.functions.exact import exact_decimal_sum, exact_sum
from gentropy_spark.functions.text import (
    normalized_fingerprint,
    token_count_bpe_ish,
    token_count_ws,
    tokens,
)
from gentropy_spark.functions.xhash import (
    B2,
    M1,
    M2,
    band_bucket_sql,
    poly_hash_sql,
    seed_coeffs,
    seeded_sql,
)
from gentropy_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    rare_shingle_jaccard_pairs,
    simhash_buckets,
)
from gentropy_spark.operators.similarity import (
    cosine_topk,
    det_hyperplanes,
    lsh_dup_pairs,
    lsh_topk,
)
from gentropy_spark.plans.registry import QuerySpec
from gentropy_spark.session import prepared
from gentropy_spark.sources.readers import read_table


# Shared algorithm parameters — BOTH the Spark operator calls and the
# generated DuckDB oracle SQL derive from these, so the two sides can
# never silently test different algorithms (ADVICE r2).
SHINGLE_N = 3
JACCARD_MAX_DF = 10
MIN_JACCARD = 0.2
MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 8
MINHASH_ROWS_PER_BAND = MINHASH_NUM_HASHES // MINHASH_BANDS
SIMHASH_BAND_BITS = 16
SIMHASH_N_BANDS = 4
SIMHASH_MAX_HAMMING = 8
ANN_N_PLANES = 3
EMB_DIM = 64
EMB_N_PLANES = 64
EMB_BANDS = 4
EMB_BITS_PER_BAND = EMB_N_PLANES // EMB_BANDS
# The synthetic embeddings have no true near-dups (max pairwise cosine
# ≈0.51), so the query thresholds at 0.0: the output is the full LSH
# candidate set with exact cosines — non-trivial in both engines.
EMB_MIN_COSINE = 0.0


def _plane_lit(plane: list[float]) -> str:
    """Hyperplane as a DuckDB DOUBLE[] literal (scientific notation —
    DuckDB parses plain decimal literals as DECIMAL, not DOUBLE)."""
    return "[" + ", ".join(format(w, ".17e") for w in plane) + "]::DOUBLE[]"


def _sign_bit_sql(vec_expr: str, plane: list[float]) -> str:
    return f"(CASE WHEN list_dot_product({vec_expr}, {_plane_lit(plane)}) >= 0 THEN 1 ELSE 0 END)"

TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)


# --- E1: exact dedup ------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(read_table(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT doc_id,
       md5(text) AS content_hash,
       COUNT(*) OVER (PARTITION BY md5(text)) AS group_n,
       doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
FROM documents
"""


# --- E2: rare-shingle Jaccard near-dup -----------------------------------
@prepared
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rare_shingle_jaccard_pairs(
        read_table(spark, sf_dir, "documents"),
        n=SHINGLE_N,
        max_df=JACCARD_MAX_DF,
        min_jaccard=MIN_JACCARD,
    )


_SHINGLE_CAT = " || ' ' || ".join(
    "t[i]" if k == 0 else f"t[i+{k}]" for k in range(SHINGLE_N)
)

DEDUP_JACCARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, GREATEST(len(t) - {SHINGLE_N - 1}, 0)),
                               i -> {_SHINGLE_CAT})) AS shingle
  FROM toks
),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {JACCARD_MAX_DF}),
rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM rsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.set_size AS size_a, sb.set_size AS size_b,
       ROUND(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(n_common / (sa.set_size + sb.set_size - n_common), 6) >= {MIN_JACCARD}
"""


# --- E3/E4: MinHash LSH + SimHash (oracle-exact since r2: the hashes
# are the cross-engine polynomial family from functions/xhash.py) -----------
@prepared
def q_dedup_minhash(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    min_jaccard: float = MIN_JACCARD,
) -> DataFrame:
    return minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"),
        n=SHINGLE_N,
        num_hashes=num_hashes,
        bands=bands,
        min_jaccard=min_jaccard,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_buckets(read_table(spark, sf_dir, "documents"))


_SHINGLE_CTE = f"""
toks AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, GREATEST(len(t) - {SHINGLE_N - 1}, 0)),
                               i -> {_SHINGLE_CAT})) AS shingle
  FROM toks
)"""

_MH_COEFFS = seed_coeffs(MINHASH_NUM_HASHES)
_MH_MINS = ",\n         ".join(
    f"MIN({seeded_sql('h', a, c)}) AS m{s}" for s, (a, c) in enumerate(_MH_COEFFS)
)
_MH_BANDS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {band} AS band, "
    + band_bucket_sql(
        [f"m{band * MINHASH_ROWS_PER_BAND + r}" for r in range(MINHASH_ROWS_PER_BAND)]
    )
    + " AS bucket FROM sig"
    for band in range(MINHASH_BANDS)
)

# Same algorithm as minhash_lsh_pairs: one polynomial base hash per
# shingle, 32 affine rehash minima, 8 bands × 4 rows, exact-Jaccard
# verification over candidate pairs (pair-explode shape).
MINHASH_SQL = f"""
WITH {_SHINGLE_CTE},
hashed AS (SELECT doc_id, {poly_hash_sql('shingle')} AS h FROM sh),
sig AS (
  SELECT doc_id,
         {_MH_MINS}
  FROM hashed GROUP BY doc_id
),
banded AS (
{_MH_BANDS}
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(n_common / (sa.set_size + sb.set_size - n_common), 6) >= {MIN_JACCARD}
"""

_SIMHASH_CORE = f"""
tok AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
hashed AS (
  SELECT doc_id,
         {poly_hash_sql('tok')} AS h1,
         {poly_hash_sql('tok', base=B2, mod=M2)} AS h2
  FROM tok
),
bits AS (
  SELECT doc_id, CAST(b.bit AS INT) AS bit,
         CASE WHEN ((CASE WHEN b.bit < 31 THEN (h1 >> CAST(b.bit AS INT))
                          ELSE (h2 >> CAST(b.bit - 31 AS INT)) END) & 1) = 1
              THEN 1 ELSE -1 END AS delta
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 62)) AS bit) b
),
votes AS (SELECT doc_id, bit, SUM(delta) AS s FROM bits GROUP BY 1, 2),
fps AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)"""

SIMHASH_SQL = f"""
WITH {_SIMHASH_CORE}
SELECT doc_id, simhash FROM fps
"""

SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_CORE},
banded AS (
  SELECT doc_id, simhash, CAST(b.band AS INT) AS band,
         CAST((simhash >> CAST(b.band * {SIMHASH_BAND_BITS} AS INT))
              & {(1 << SIMHASH_BAND_BITS) - 1} AS INT) AS band_val
  FROM fps CROSS JOIN (SELECT unnest(range(0, {SIMHASH_N_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


# --- E5: brute-force cosine top-k ----------------------------------------
COS_SQL = (
    "ROUND(list_dot_product(a.v, b.v) / "
    "(SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6)"
)


def _ann_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The ANN keys' (queries, corpus) split of ``embeddings``: vec_id < 10
    are the queries (query_id, vec), the rest the corpus (corpus_id, vec)."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")
    )
    return queries, corpus


@prepared
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _ann_split(spark, sf_dir)
    return cosine_topk(queries, corpus, k=5)


ANN_TOPK_SQL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, {COS_SQL} AS cosine
  FROM vecs a, vecs b
  WHERE a.vec_id < 10 AND b.vec_id >= 10
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# --- E11: embedding-cosine near-dup pairs (LSH-blocked since r2;
# r3: vectorized packed-sign-bit UDF + 16-bit bands) ----------------------
@prepared
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs blocked by banded sign-pattern LSH — the scale
    path (candidate space follows the data, not a label column)."""
    return lsh_dup_pairs(
        read_table(spark, sf_dir, "embeddings"),
        n_planes=EMB_N_PLANES,
        bands=EMB_BANDS,
        min_cosine=EMB_MIN_COSINE,
        dim=EMB_DIM,
    )


_EMB_PLANES = det_hyperplanes(EMB_N_PLANES, EMB_DIM)
_EMB_BITS = ",\n         ".join(
    f"{_sign_bit_sql('v', hp)} AS b{i}" for i, hp in enumerate(_EMB_PLANES)
)
_EMB_BANDS_SQL = "\n  UNION ALL\n".join(
    "  SELECT vec_id, {band} AS band, ({val}) AS band_val FROM bits".format(
        band=band,
        val=" + ".join(
            f"b{band * EMB_BITS_PER_BAND + i} * {2 ** i}"
            for i in range(EMB_BITS_PER_BAND)
        ),
    )
    for band in range(EMB_BANDS)
)

DEDUP_EMB_SQL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bits AS (
  SELECT vec_id,
         {_EMB_BITS}
  FROM vecs
),
banded AS (
{_EMB_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_val = y.band_val AND x.vec_id < y.vec_id
),
pairs AS (
  SELECT id_a, id_b, {COS_SQL} AS cosine
  FROM cand
  JOIN vecs a ON a.vec_id = id_a
  JOIN vecs b ON b.vec_id = id_b
)
SELECT id_a, id_b, cosine FROM pairs
WHERE cosine >= {format(EMB_MIN_COSINE, ".17e")}
"""


# --- E7: text quality profile --------------------------------------------
def _char_ratio(pattern_drop: str) -> F.Column:
    """Share of ``text`` characters left after removing ``pattern_drop``
    (an exact integer-over-integer division; 1 char floor)."""
    return F.length(F.regexp_replace(F.col("text"), pattern_drop, "")) / (
        F.greatest(F.length(F.col("text")), F.lit(1))
    )


@prepared
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/alpha/digit/whitespace/upper/stopword profile per
    document; ratios are exact integer-over-integer divisions
    (oracle-exact). STAGED: tokenize once, token aggregates over the
    column ref, then pure-codegen ratios (CollapseProject leaves
    multi-use non-cheap aliases alone). r18: the stopword count and token-length
    sum are codegen expressions — ``size - size(array_remove chain)``
    and ``length(array_join(toks, ''))`` — instead of interpreted
    CodegenFallback HOF lambdas; values identical (a token matches at
    most one stopword; concatenated length = summed lengths; NULL maps
    to NULL in both forms)."""
    from gentropy_spark.functions.text import EN_STOPWORDS, stopword_count_sql

    docs = read_table(spark, sf_dir, "documents")
    toks_df = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("__toks")
    )
    hof = toks_df.select(
        "doc_id",
        "text",
        F.size(F.col("__toks")).alias("__n_tokens"),
        F.expr(stopword_count_sql("__toks", EN_STOPWORDS)).alias("__n_stop"),
        F.length(F.array_join(F.col("__toks"), "")).alias("__sum_len"),
    )
    denom_t = F.greatest(F.col("__n_tokens"), F.lit(1))
    return hof.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars"),
        F.col("__n_tokens").alias("n_tokens"),
        _char_ratio("[^a-zA-Z]").alias("alpha_ratio"),
        _char_ratio("[^0-9]").alias("digit_ratio"),
        _char_ratio("[^\\s]").alias("ws_ratio"),
        _char_ratio("[^A-Z]").alias("upper_ratio"),
        (F.col("__n_stop") / denom_t).alias("stop_ratio"),
        (F.col("__sum_len") / denom_t).alias("mean_token_len"),
    )


TEXT_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks,
         CAST(LENGTH(text) AS INT) AS n_chars,
         GREATEST(LENGTH(text), 1) AS dc
  FROM documents
)
SELECT doc_id, n_chars,
  CAST(LEN(toks) AS INT) AS n_tokens,
  LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / dc AS alpha_ratio,
  LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) / dc AS digit_ratio,
  LENGTH(regexp_replace(text, '[^\\s]', '', 'g')) / dc AS ws_ratio,
  LENGTH(regexp_replace(text, '[^A-Z]', '', 'g')) / dc AS upper_ratio,
  LEN(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is')))
    / GREATEST(LEN(toks), 1) AS stop_ratio,
  -- COALESCE: DuckDB list_sum([]) is NULL where Spark's F.aggregate
  -- with init 0 yields 0 (same trap class as array_to_string([]))
  COALESCE(list_sum(list_transform(toks, x -> LENGTH(x)))::BIGINT, 0)
    / GREATEST(LEN(toks), 1) AS mean_token_len
FROM base
"""


# --- E8: language ID ------------------------------------------------------
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: the argmax of per-language
    stopword hits, ties broken by language name ascending, 'und' when
    every score is zero. Staged like q_text_quality: one tokenize
    projection, one score projection, then a pure-codegen argmax.
    r18: the per-language
    scores are codegen ``size - size(array_remove chain)`` expressions
    instead of interpreted CodegenFallback filter lambdas (identical
    counts — a token matches at most one stopword per language)."""
    from gentropy_spark.functions.text import STOPWORDS

    docs = read_table(spark, sf_dir, "documents")
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    scored = toks_df.select("doc_id", *_lang_scores(list(STOPWORDS)))
    return scored.select("doc_id", _pred_lang().alias("pred_lang"))


def _lang_scores(langs: list[str]) -> list[F.Column]:
    """Per-language stopword hits ``__s_<lang>`` over ``__toks``, in the
    order of ``langs``. One parsed SQL expression per language (r17 — a
    single py4j round trip), in the codegen array_remove-chain form
    (r18): the old filter-lambda HOF was CodegenFallback. Identical
    counts (a token matches at most one stopword per language)."""
    from gentropy_spark.functions.text import STOPWORDS, stopword_count_sql

    return [
        F.expr(stopword_count_sql("__toks", STOPWORDS[lang])).alias(
            f"__s_{lang}"
        )
        for lang in langs
    ]


def _pred_lang() -> F.Column:
    """Argmax language over the ``__s_<lang>`` scores: ties go to the
    earliest name, 'und' when every score is zero."""
    from gentropy_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"__s_{lg}") for lg in langs])
    pred = F.lit("und")
    # Iterate langs in reverse-sorted order so the earliest name wins
    # ties.
    for lg in sorted(langs, reverse=True):
        pred = F.when(F.col(f"__s_{lg}") == best, F.lit(lg)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


LANGID_SQL = f"""
WITH scored AS (
  SELECT doc_id,
    LEN(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
    LEN(list_filter(toks, x -> x IN ('der','die','und','das','nicht'))) AS s_de,
    LEN(list_filter(toks, x -> x IN ('le','la','les','et','une'))) AS s_fr,
    LEN(list_filter(toks, x -> x IN ('el','los','una','por','como'))) AS s_es
  FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)
)
SELECT doc_id,
  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
       ELSE 'fr' END AS pred_lang
FROM scored
"""


# --- E9: token counting ---------------------------------------------------
@prepared
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws_tokens"),
        token_count_bpe_ish(F.col("text")).alias("n_bpe_tokens"),
    )


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
  CAST(LEN(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_ws_tokens,
  CAST(LEN(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens
FROM documents
"""


# --- E10: normalized fingerprint -----------------------------------------
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint")
    return (
        docs.select(
            "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
        )
        .withColumn("fp_group_n", F.count("*").over(w))
    )


FINGERPRINT_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(TRIM(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS fp_group_n
FROM fp
"""


# --- E6: LSH-bucketed ANN (oracle-exact since r2: deterministic fixed
# hyperplanes give bit-identical buckets in both engines; recall < 1 vs
# brute force by LSH design, but the LSH result itself is exact) ----------
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _ann_split(spark, sf_dir)
    return lsh_topk(
        queries, corpus, det_hyperplanes(ANN_N_PLANES, EMB_DIM), k=5
    )


_ANN_PLANES = det_hyperplanes(ANN_N_PLANES, EMB_DIM)
_ANN_BUCKET = " + ".join(
    f"{_sign_bit_sql('v', hp)} * {2 ** bi}" for bi, hp in enumerate(_ANN_PLANES)
)
_ANN_COS = (
    "ROUND(list_dot_product(q.v, c.v) / "
    "(SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))), 6)"
)

ANN_LSH_SQL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bkt AS (SELECT vec_id, v, ({_ANN_BUCKET}) AS bucket FROM vecs),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_ANN_COS} AS cosine
  FROM bkt q JOIN bkt c ON q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id >= 10
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 5
"""


REGISTRY: dict[str, QuerySpec] = {
    "ann_lsh_bucketed": QuerySpec(q_ann_lsh, ANN_LSH_SQL),
    "dedup_exact": QuerySpec(q_dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": QuerySpec(q_dedup_jaccard, DEDUP_JACCARD_SQL),
    "dedup_minhash_lsh": QuerySpec(q_dedup_minhash, MINHASH_SQL),
    "dedup_simhash": QuerySpec(q_dedup_simhash, SIMHASH_SQL),
    "ann_cosine_topk": QuerySpec(q_ann_cosine_topk, ANN_TOPK_SQL),
    "dedup_embedding_cosine": QuerySpec(q_dedup_embedding, DEDUP_EMB_SQL),
    "text_quality": QuerySpec(q_text_quality, TEXT_QUALITY_SQL),
    "text_langid": QuerySpec(q_text_langid, LANGID_SQL),
    "token_count": QuerySpec(q_token_count, TOKEN_COUNT_SQL),
    "doc_fingerprint": QuerySpec(q_doc_fingerprint, FINGERPRINT_SQL),
}


# --- E13: repetition detection (data-quality heuristic) ------------------
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max repeated 3-gram share per document — the classic LLM-corpus
    repetition filter (a doc whose top shingle dominates is boilerplate
    or a loop). Uses NON-distinct shingles (occurrence counts)."""
    from gentropy_spark.functions.text import tokens as _tokens

    docs = read_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", _tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, (i + 1).cast("int")),
                F.element_at(toks, (i + 2).cast("int")),
                F.element_at(toks, (i + 3).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = toked.select("doc_id", F.explode(grams).alias("shingle"))
    counts = exploded.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_shingles"),
        F.max("c").alias("top_shingle_count"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_shingle_share"),
    )


TEXT_REPETITION_SQL = f"""
WITH toked AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, GREATEST(len(t) - 2, 0)),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toked
),
counts AS (
  SELECT doc_id, shingle, COUNT(*) AS c FROM grams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_shingles,
       MAX(c) AS top_shingle_count,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_shingle_share
FROM counts GROUP BY doc_id
"""


# --- E14: corpus log-frequency quality score ------------------------------
def q_text_logfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean log10 corpus frequency of a doc's tokens — a unigram-LM
    quality proxy (low = rare/garbled vocabulary). Two aggregations and
    one broadcast-ish join of the doc tokens against the corpus
    frequency table; at 100 TB the frequency table is the small side."""
    from gentropy_spark.functions.text import tokens as _tokens

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("corpus_freq"))
    joined = tok.join(freq, on="tok")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            exact_sum(F.round(F.log10("corpus_freq"), 9), 9) / F.count("*"), 6
        ).alias("mean_log_freq"),
    )


TEXT_LOGFREQ_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS corpus_freq FROM tok GROUP BY tok)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(CAST(ROUND(LOG10(corpus_freq), 9) AS DECIMAL(38,9))) AS DOUBLE)
             / COUNT(*), 6) AS mean_log_freq
FROM tok JOIN freq USING (tok)
GROUP BY doc_id
"""


# --- E4b: SimHash candidate pairs (rows-only: engine-specific hashes) ----
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup candidates: split the 64-bit fingerprint
    into four 16-bit bands, equi-join on any shared band, verify with
    bit_count(xor) <= 8 hamming distance."""
    from gentropy_spark.session import track_cache

    fps = track_cache(simhash_buckets(read_table(spark, sf_dir, "documents")))
    _mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.expr(
                            f"CAST(shiftright(simhash, {band * SIMHASH_BAND_BITS})"
                            f" & {_mask} AS INT)"
                        ).alias("band_val"),
                    )
                    for band in range(SIMHASH_N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.band_val")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "band_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


REGISTRY.update(
    {
        "text_repetition": QuerySpec(q_text_repetition, TEXT_REPETITION_SQL),
        "text_logfreq": QuerySpec(q_text_logfreq, TEXT_LOGFREQ_SQL),
        "dedup_simhash_pairs": QuerySpec(q_simhash_pairs, SIMHASH_PAIRS_SQL),
    }
)


# --- E6b: IVF-Flat ANN (deterministic coarse quantizer) -------------------
IVF_N_CENTROIDS = 16
IVF_N_PROBE = 4
IVF_K = 5


@prepared
def q_ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    n_probe: int = IVF_N_PROBE,
    k: int = IVF_K,
) -> DataFrame:
    from gentropy_spark.operators.similarity import ivf_topk

    queries, corpus = _ann_split(spark, sf_dir)
    return ivf_topk(
        queries,
        corpus,
        n_centroids=n_centroids,
        n_probe=n_probe,
        k=k,
    )


ANN_IVF_SQL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corpus AS (SELECT vec_id AS corpus_id, v FROM vecs WHERE vec_id >= 10),
queries AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 10),
centroids AS (
  SELECT corpus_id AS centroid_id, v AS centv
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY corpus_id) AS rn FROM corpus)
  WHERE rn <= {IVF_N_CENTROIDS}
),
assign_scored AS (
  SELECT c.corpus_id, c.v, ct.centroid_id,
         ROUND(list_dot_product(c.v, ct.centv)
               / (SQRT(list_dot_product(c.v, c.v))
                  * SQRT(list_dot_product(ct.centv, ct.centv))), 6) AS csim
  FROM corpus c, centroids ct
),
assigned AS (
  SELECT corpus_id, v, centroid_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY corpus_id
                                     ORDER BY csim DESC, centroid_id) AS r
        FROM assign_scored)
  WHERE r = 1
),
probe_scored AS (
  SELECT q.query_id, q.v AS qv, ct.centroid_id,
         ROUND(list_dot_product(q.v, ct.centv)
               / (SQRT(list_dot_product(q.v, q.v))
                  * SQRT(list_dot_product(ct.centv, ct.centv))), 6) AS csim
  FROM queries q, centroids ct
),
probes AS (
  SELECT query_id, qv, centroid_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, centroid_id) AS r
        FROM probe_scored)
  WHERE r <= {IVF_N_PROBE}
),
scored AS (
  SELECT p.query_id, a.corpus_id,
         ROUND(list_dot_product(p.qv, a.v)
               / (SQRT(list_dot_product(p.qv, p.qv))
                  * SQRT(list_dot_product(a.v, a.v))), 6) AS cosine
  FROM probes p JOIN assigned a USING (centroid_id)
)
SELECT query_id, corpus_id, cosine, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, corpus_id) AS INT) AS rank
      FROM scored)
WHERE rank <= {IVF_K}
"""


REGISTRY["ann_ivf_topk"] = QuerySpec(q_ann_ivf, ANN_IVF_SQL)


# --- E6c: product-quantization ANN (asymmetric distance) -------------------
PQ_N_SUBVECTORS = 8
PQ_N_CODES = 16


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k (operators/similarity.py pq_topk): 64 float dims
    compress to 8 one-byte codes per corpus vector — the
    billion-scale ANN memory layout (Jégou et al. 2011) — searched via
    per-query lookup tables, with exact cosine annotated on the k
    winners (the standard PQ-then-rerank output)."""
    from gentropy_spark.operators.similarity import pq_topk

    queries, corpus = _ann_split(spark, sf_dir)
    return pq_topk(
        queries,
        corpus,
        n_subvectors=PQ_N_SUBVECTORS,
        n_codes=PQ_N_CODES,
        k=5,
        dim=EMB_DIM,
    )


def _pq_sql() -> str:
    sub = EMB_DIM // PQ_N_SUBVECTORS
    l2 = (
        "list_dot_product("
        "list_transform(generate_series(1, {n}), i -> {a}[i] - {b}[i]), "
        "list_transform(generate_series(1, {n}), i -> {a}[i] - {b}[i]))"
    )
    return f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corpus AS (SELECT vec_id AS corpus_id, v FROM vecs WHERE vec_id >= 10),
queries AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 10),
ms AS (SELECT unnest(generate_series(0, {PQ_N_SUBVECTORS - 1})) AS m),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY corpus_id) AS code, v
  FROM corpus ORDER BY corpus_id LIMIT {PQ_N_CODES}
),
codebook AS (
  SELECT ms.m, s.code, s.v[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS bookv
  FROM seeds s, ms
),
c_sub AS (
  SELECT c.corpus_id, ms.m,
         c.v[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS subv
  FROM corpus c, ms
),
enc_scored AS (
  SELECT cs.corpus_id, cs.m, cb.code,
         ROUND({l2.format(n=sub, a='cs.subv', b='cb.bookv')}, 6) AS d
  FROM c_sub cs JOIN codebook cb ON cs.m = cb.m
),
codes AS (
  SELECT corpus_id, m, code
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY corpus_id, m
                                     ORDER BY d, code) AS r
        FROM enc_scored)
  WHERE r = 1
),
q_sub AS (
  SELECT q.query_id, ms.m,
         q.v[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS qsubv
  FROM queries q, ms
),
lookup AS (
  SELECT qs.query_id, qs.m, cb.code,
         ROUND({l2.format(n=sub, a='qs.qsubv', b='cb.bookv')}, 6) AS pdist
  FROM q_sub qs JOIN codebook cb ON qs.m = cb.m
),
adc AS (
  SELECT l.query_id, c.corpus_id,
         CAST(SUM(CAST(l.pdist AS DECIMAL(38,6))) AS DOUBLE) AS adc_dist
  FROM codes c JOIN lookup l ON c.m = l.m AND c.code = l.code
  GROUP BY 1, 2
),
top AS (
  SELECT query_id, corpus_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, corpus_id) AS INT)
           AS pq_rank
  FROM adc
)
SELECT t.query_id, t.corpus_id, t.pq_rank, t.adc_dist,
       ROUND(list_dot_product(q.v, c.v)
             / (SQRT(list_dot_product(q.v, q.v))
                * SQRT(list_dot_product(c.v, c.v))), 6) AS cosine
FROM top t
JOIN corpus c USING (corpus_id)
JOIN queries q USING (query_id)
WHERE t.pq_rank <= 5
"""


REGISTRY["ann_pq_topk"] = QuerySpec(q_ann_pq, _pq_sql())


# --- E6d: IVF-PQ ANN (the composed billion-scale FAISS layout) -------------
IVFPQ_N_LISTS = 16
IVFPQ_N_PROBE = 4


@prepared
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (operators/similarity.py ivfpq_topk): queries
    probe their IVFPQ_N_PROBE closest of IVFPQ_N_LISTS inverted lists
    and score members by PQ/ADC lookups — the layout FAISS ships for
    billion-vector search (IVF bounds the scanned fraction, PQ bounds
    bytes per member), with exact cosine annotated on the k winners.
    No-residual variant: codes encode raw vectors, so the codebooks
    stay query-independent and both engines bit-align."""
    from gentropy_spark.operators.similarity import ivfpq_topk

    queries, corpus = _ann_split(spark, sf_dir)
    return ivfpq_topk(
        queries,
        corpus,
        n_lists=IVFPQ_N_LISTS,
        n_probe=IVFPQ_N_PROBE,
        n_subvectors=PQ_N_SUBVECTORS,
        n_codes=PQ_N_CODES,
        k=5,
        dim=EMB_DIM,
    )


def _ivfpq_sql() -> str:
    sub = EMB_DIM // PQ_N_SUBVECTORS
    l2 = (
        "list_dot_product("
        "list_transform(generate_series(1, {n}), i -> {a}[i] - {b}[i]), "
        "list_transform(generate_series(1, {n}), i -> {a}[i] - {b}[i]))"
    )
    return f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corpus AS (SELECT vec_id AS corpus_id, v FROM vecs WHERE vec_id >= 10),
queries AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 10),
cents AS (
  SELECT corpus_id AS centroid_id, v AS centv
  FROM corpus ORDER BY corpus_id LIMIT {IVFPQ_N_LISTS}
),
assigned AS (
  SELECT corpus_id, centroid_id
  FROM (SELECT c.corpus_id, ct.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.corpus_id ORDER BY
                 ROUND({l2.format(n=EMB_DIM, a='c.v', b='ct.centv')}, 6),
                 ct.centroid_id) AS r
        FROM corpus c, cents ct)
  WHERE r = 1
),
probes AS (
  SELECT query_id, centroid_id
  FROM (SELECT q.query_id, ct.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ROUND({l2.format(n=EMB_DIM, a='q.v', b='ct.centv')}, 6),
                 ct.centroid_id) AS r
        FROM queries q, cents ct)
  WHERE r <= {IVFPQ_N_PROBE}
),
ms AS (SELECT unnest(generate_series(0, {PQ_N_SUBVECTORS - 1})) AS m),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY corpus_id) AS code, v
  FROM corpus ORDER BY corpus_id LIMIT {PQ_N_CODES}
),
codebook AS (
  SELECT ms.m, s.code, s.v[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS bookv
  FROM seeds s, ms
),
codes AS (
  SELECT corpus_id, m, code
  FROM (SELECT cs.corpus_id, cs.m, cb.code,
               ROW_NUMBER() OVER (PARTITION BY cs.corpus_id, cs.m ORDER BY
                 ROUND({l2.format(n=sub, a='cs.subv', b='cb.bookv')}, 6),
                 cb.code) AS r
        FROM (SELECT c.corpus_id, ms.m,
                     c.v[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS subv
              FROM corpus c, ms) cs
        JOIN codebook cb ON cs.m = cb.m)
  WHERE r = 1
),
lookup AS (
  SELECT qs.query_id, qs.m, cb.code,
         ROUND({l2.format(n=sub, a='qs.qsubv', b='cb.bookv')}, 6) AS pdist
  FROM (SELECT q.query_id, ms.m,
               q.v[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS qsubv
        FROM queries q, ms) qs
  JOIN codebook cb ON qs.m = cb.m
),
adc AS (
  SELECT p.query_id, a.corpus_id,
         CAST(SUM(CAST(l.pdist AS DECIMAL(38,6))) AS DOUBLE) AS adc_dist
  FROM probes p
  JOIN assigned a USING (centroid_id)
  JOIN codes c ON c.corpus_id = a.corpus_id
  JOIN lookup l ON l.query_id = p.query_id AND l.m = c.m AND l.code = c.code
  GROUP BY 1, 2
),
top AS (
  SELECT query_id, corpus_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, corpus_id) AS INT)
           AS ivfpq_rank
  FROM adc
)
SELECT t.query_id, t.corpus_id, t.ivfpq_rank, t.adc_dist,
       ROUND(list_dot_product(q.v, c.v)
             / (SQRT(list_dot_product(q.v, q.v))
                * SQRT(list_dot_product(c.v, c.v))), 6) AS cosine
FROM top t
JOIN corpus c USING (corpus_id)
JOIN queries q USING (query_id)
WHERE t.ivfpq_rank <= 5
"""


REGISTRY["ann_ivfpq_topk"] = QuerySpec(q_ann_ivfpq, _ivfpq_sql())


# --- E15: duplicate clusters (connected components over verified pairs) ---
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pair candidates → transitive duplicate clusters with one
    canonical doc per cluster — the dedup DECISION the pair operators
    feed (corpus curation keeps ``is_canonical`` rows only)."""
    from gentropy_spark.operators.dedup import duplicate_clusters

    docs = read_table(spark, sf_dir, "documents")
    # The fixpoint acts eagerly, so this key is not prepared; its pair
    # plan is (the banded MinHash tree costs ~3.9 s of py4j to build).
    return duplicate_clusters(docs, q_dedup_minhash(spark, sf_dir))


# Min-label propagation as a recursive CTE: a label walks an edge only
# toward a larger id, which prunes the closure while still delivering
# every component's minimum to every member (the min is smaller than
# every destination it needs to reach).
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.lbl < e.dst
),
m AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM m
"""


# --- E16: deterministic stratified sampling -------------------------------
# Per-language keep-rates for corpus rebalancing (md5 keyspace is 16^4
# = 65536 per 4-hex-char prefix; a threshold of '28f5' keeps ~16%).
SAMPLE_RATES = {
    "en": "28f5",  # ~16% — downsample the dominant language
    "zh": "8000",  # ~50%
    "es": "8000",
    "de": "cccc",  # ~80%
    "fr": "cccc",
}
SAMPLE_DEFAULT = "4000"  # ~25% for unseen languages


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum corpus sampling (SURVEY E16).

    Training-data curation constantly rebalances a corpus by language /
    source / quality bucket. ``TABLESAMPLE``/``df.sample`` are
    seed-and-partitioning dependent — useless for reproducible corpus
    builds — so the keep decision is a pure function of the row: the
    md5 of (lang, doc_id) compared lexicographically against the
    stratum's hex threshold. Embarrassingly parallel (no shuffle at
    all: the filter composes with the scan), re-runnable byte-for-byte,
    and the same predicate runs on any engine that has md5.
    """
    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(docs.select("doc_id", "lang", "source"))


def stratified_sample(
    df: DataFrame,
    stratum_col: str = "lang",
    rates: dict[str, str] = SAMPLE_RATES,
    default: str = SAMPLE_DEFAULT,
) -> DataFrame:
    """``df`` plus its ``sample_key`` (the first 4 hex chars of
    md5(stratum|doc_id)), keeping the rows whose key sorts below their
    stratum's threshold in ``rates`` (``default`` for other strata)."""
    key = F.substring(
        F.md5(
            F.concat_ws("|", F.col(stratum_col), F.col("doc_id").cast("string"))
        ),
        1,
        4,
    )
    thr = F.lit(default)
    for stratum, rate in rates.items():
        thr = F.when(F.col(stratum_col) == stratum, F.lit(rate)).otherwise(thr)
    return df.withColumn("sample_key", key).filter(F.col("sample_key") < thr)


_SAMPLE_THR_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN '{rate}'" for lang, rate in SAMPLE_RATES.items()
) + f" ELSE '{SAMPLE_DEFAULT}' END"

SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source,
       substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key
FROM documents
WHERE substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 4)
      < {_SAMPLE_THR_SQL}
"""


REGISTRY.update(
    {
        "dedup_clusters": QuerySpec(q_dedup_clusters, DEDUP_CLUSTERS_SQL),
        "sample_stratified": QuerySpec(q_sample_stratified, SAMPLE_STRATIFIED_SQL),
    }
)


# --- E17: training-sequence packing ---------------------------------------
PACK_BUDGET_TOKENS = 256


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing (SURVEY E17).

    Assign documents to fixed-token-budget training bins: per source
    shard, documents in deterministic (doc_id) order fill bins by
    cumulative token count — the contiguous-fill variant of sequence
    packing (the shuffle-free one: a greedy best-fit packer needs
    per-bin state, this one is a running cumsum, which is why
    it's what large-corpus packers actually run). Documents longer
    than the budget become singleton bins by construction. Bin ids
    are stable across reruns.

    r10 scale fix: ``source`` is low-cardinality, so a single
    PARTITION BY source window would serialize each source's whole
    stream through one task at 100 TB. The cumsum is two-level
    (operators/packing.py): within-(source, doc_id-bucket) window +
    broadcast per-bucket prefix offsets — identical values, bounded
    per-task sort, exchange keyed on (source, bucket).
    """
    return pack_documents(read_table(spark, sf_dir, "documents"))


def pack_documents(
    docs: DataFrame,
    budget_tokens: int = PACK_BUDGET_TOKENS,
    part_col: str = "source",
) -> DataFrame:
    """Token-count each document's ``text`` and pack the documents into
    training bins (``pack_token_bins``)."""
    from gentropy_spark.functions.text import token_count_bpe_ish

    toked = docs.select(
        "doc_id",
        part_col,
        token_count_bpe_ish(F.col("text")).alias("n_tokens"),
    )
    return pack_token_bins(toked, budget_tokens, part_col)


def pack_token_bins(
    toked: DataFrame,
    budget_tokens: int = PACK_BUDGET_TOKENS,
    part_col: str = "source",
) -> DataFrame:
    """``toked`` (doc_id, ``part_col``, n_tokens, ...) plus the running
    ``cum_tokens`` per ``part_col`` in doc_id order and the contiguous-
    fill ``bin_id`` of each document. The cumsum is two-level
    (operators/packing.py), so no task sorts a whole part's stream."""
    from gentropy_spark.operators.packing import bucketed_cumsum

    cum = bucketed_cumsum(
        toked, part_col=part_col, order_col="doc_id", value_col="n_tokens"
    )
    return cum.select(*toked.columns, "cum_tokens").withColumn(
        "bin_id", F.expr(f"(cum_tokens - 1) div {budget_tokens}")
    )


PACK_SQL = f"""
WITH toked AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
           AS n_tokens
  FROM documents
),
cum AS (
  -- BIGINT cast: DuckDB's windowed SUM(BIGINT) yields HUGEINT, which
  -- the pandas bridge widens past int64 and breaks driver hash parity.
  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens
  FROM toked
)
SELECT doc_id, source, n_tokens, cum_tokens,
       CAST((cum_tokens - 1) // {PACK_BUDGET_TOKENS} AS BIGINT) AS bin_id
FROM cum
"""


# --- E18: vocabulary build ------------------------------------------------
VOCAB_TOP_K = 500


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K vocabulary with deterministic tie-break
    (count desc, token asc) — the seed vocabulary step of a tokenizer
    build. Token counts partial-agg before the single ranking window
    over the (tiny) distinct-token set."""
    from pyspark.sql import Window

    from gentropy_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= VOCAB_TOP_K)
        .select("token", "n", "rank")
    )


VOCAB_SQL = f"""
WITH tok AS (SELECT unnest({TOKS_SQL}) AS token FROM documents),
counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1)
SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS rank
FROM counts
QUALIFY rank <= {VOCAB_TOP_K}
"""


# --- E19: TF-IDF top terms ------------------------------------------------
TFIDF_TOP_TERMS = 3


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top characteristic terms per document by TF-IDF.

    tf = in-doc occurrences, idf = ln(N / df) over distinct-doc
    frequency; score rounded to 6dp BEFORE ranking so the rank is
    taken on cross-engine-identical values (ln is IEEE-identical,
    products are not past 6dp). df comes from a partial-agg groupBy
    joined back — never a per-term window over the exploded corpus.

    N ships as a broadcast 1-row aggregate crossJoined into the plan
    (the lm_perplexity pattern) — NOT a driver-side .count() action,
    which would fire a full-scan job at plan-build time and put a
    barrier in front of the query.
    """
    from pyspark.sql import Window

    from gentropy_spark.functions.text import tokens
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tok = track_cache(
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count("*").alias("df")
    )
    scored = (
        tf.join(df_, on="token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP_TERMS)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
    )


TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         ROUND(tf * LN(n_docs / df), 6) AS tfidf
  FROM tf JOIN df USING (token), n
)
SELECT doc_id, token, tf, df, tfidf,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, token) AS INT) AS term_rank
FROM scored
QUALIFY term_rank <= {TFIDF_TOP_TERMS}
"""


REGISTRY.update(
    {
        "pack_sequences": QuerySpec(q_pack_sequences, PACK_SQL),
        "vocab_topk": QuerySpec(q_vocab_topk, VOCAB_SQL),
        "tfidf_topterms": QuerySpec(q_tfidf_topterms, TFIDF_SQL),
    }
)


# --- E20: benchmark decontamination ---------------------------------------
DECON_NGRAM = 5
# Synthetic "benchmark" split: every 10th doc plays the eval set.
_BENCH_PRED = "doc_id % 10 = 0"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus decontamination against an eval set (SURVEY E20).

    The standard pre-training hygiene step: flag training documents
    sharing long n-grams with a benchmark/eval corpus. Shingle both
    sides (reusing the dedup shingle machinery), aggregate the
    benchmark side to DISTINCT shingles (tiny relative to the corpus —
    broadcastable at real scale), join, and emit per-doc contaminated
    shingle counts + ratio. A training doc with ratio above threshold
    gets dropped; the query returns the per-doc evidence so the
    threshold stays a policy choice.
    """
    from gentropy_spark.operators.dedup import shingles
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(~F.expr(_BENCH_PRED))
    bench = docs.filter(F.expr(_BENCH_PRED))
    sh_train = track_cache(shingles(train, n=DECON_NGRAM))
    # Guarded spread on the eval side too (r17): the split is
    # broadcastable AFTER shingling, but its tokenize+shingle kernel
    # ran inside ONE scan task on a few-file source (the event-log
    # 1-task ~1.3s hot stage — the filter does not change scan
    # splits). spread_if_narrow hash-exchanges only the split's raw
    # text and only when the source is narrow; many-file production
    # eval sets are untouched.
    sh_bench = shingles(bench, n=DECON_NGRAM).select("shingle").distinct()
    per_doc = sh_train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        sh_train.join(F.broadcast(sh_bench), on="shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        per_doc.join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                / F.col("n_shingles"),
                6,
            ).alias("contamination_ratio"),
        )
    )


_DECON_SHINGLE = f"""
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, GREATEST(len(t) - {DECON_NGRAM - 1}, 0)),
                i -> {' || '.join("t[i+%d]" % k if k == 0 else "' ' || t[i+%d]" % k for k in range(DECON_NGRAM))})) AS shingle
  FROM toks
"""

DECON_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS ({_DECON_SHINGLE}),
sh_train AS (SELECT * FROM sh WHERE NOT (doc_id % 10 = 0)),
sh_bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh_train GROUP BY 1),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_contaminated
  FROM sh_train t JOIN sh_bench b USING (shingle) GROUP BY 1
)
SELECT p.doc_id, p.n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       ROUND(COALESCE(h.n_contaminated, 0) / p.n_shingles, 6)
         AS contamination_ratio
FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
"""


# --- E20b: Bloom-filter decontamination (r11) -------------------------------
# The scale path of E20: at 100 TB the benchmark shingle set is still
# broadcastable, but a corpus-side exact join ships every training
# shingle through a hash probe of a (possibly multi-GB) set. A Bloom
# filter compresses the benchmark side to a FIXED M-bit array built
# with a bitwise-OR aggregate (fully partial-agg'able, one tiny
# shuffle of <= M/32 words) and probed via a broadcast join on the
# word index. The hash family is the repo's cross-engine polynomial
# hash, so the filter's bits — and therefore its false positives —
# are bit-identical in Spark and DuckDB: the query is oracle-EXACT,
# not approximately checked.
BLOOM_M_BITS = 1 << 17  # 131,072 bits -> 4,096 32-bit words
BLOOM_WORD_BITS = 32
BLOOM_K = 4
_BLOOM_COEFFS = seed_coeffs(BLOOM_K)


@prepared
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Bloom-probe contamination counts against the eval split.

    Same shingle grammar and split as ``decontaminate``; emits the
    Bloom hit count per training doc (>= the exact contaminated count;
    the overshoot is the filter's deterministic false-positive mass).
    """
    from gentropy_spark.functions.xhash import poly_hash, seeded
    from gentropy_spark.operators.dedup import shingles

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(~F.expr(_BENCH_PRED))
    bench = docs.filter(F.expr(_BENCH_PRED))
    # No distinct on the filter-build side (r13): bit_or absorbs
    # duplicate shingles' masks, so deduplicating first only buys a
    # full shuffle of the eval shingles to save re-ORing identical
    # bits — the word-grain partial aggregate below already combines
    # map-side. (The exact E20 path DOES need its distinct: it counts
    # joined rows.) Guarded spread (r17): the split's tokenize+shingle
    # kernel ran inside ONE scan task on a few-file source (the
    # event-log 1-task ~1.3s hot stage); spread_if_narrow exchanges
    # only the split's raw text and only when the source is narrow.
    sh_bench = shingles(bench, n=DECON_NGRAM).select("shingle")

    def positions(df: DataFrame) -> DataFrame:
        h = poly_hash("shingle")
        return df.withColumn(
            "pos",
            F.explode(
                F.array(
                    *[seeded(h, a, c) % BLOOM_M_BITS for a, c in _BLOOM_COEFFS]
                )
            ),
        )

    bloom = (
        positions(sh_bench)
        .select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )
    # Probe side (r12): the filter is materialized as ONE dense
    # word-array row (missing words = 0, identical to the old
    # left-join-miss semantics) and each training shingle evaluates
    # its K probes INLINE — a conjunction of K O(1) element_at
    # lookups against the broadcast array. The previous shape
    # exploded K position rows per shingle through a broadcast join,
    # K-multiplying every row the probe stage carries; map-side
    # partial aggregation hid the cost from the shuffle, not from the
    # stage. All probe indices are in range by construction (the
    # polynomial hash family is non-negative, pos < M bits).
    n_words = BLOOM_M_BITS // BLOOM_WORD_BITS
    # Dense-array build via range left-join + sorted collect (r17).
    # The previous shape (map_from_entries + transform(sequence) with
    # try_element_at) was O(n_words x set_words) INTERPRETED work:
    # HOF lambdas are CodegenFallback and Catalyst's GetMapValue is a
    # linear scan over the map's key array, so the one-row build stage
    # burned ~8M interpreted ops (~1.1s single-task at sf0.1, the
    # event-log 1-task hot stage). The range join densifies missing
    # words to 0 rows first, so the collect is a sorted O(n_words)
    # scatter and the only HOF is a linear field extraction. Values
    # bit-identical (A/B'd inline; same array, same order).
    dense = (
        spark.range(n_words)
        .select(F.col("id").cast("long").alias("word_idx"))
        .join(bloom, on="word_idx", how="left")
        .select(
            "word_idx",
            F.coalesce("word", F.lit(0).cast("long")).alias("word"),
        )
    )
    bloom_arr = dense.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("word_idx", "word"))).alias(
            "sw"
        )
    ).select(
        F.transform(F.col("sw"), lambda s: s["word"]).alias("bloom_words")
    )
    # NOT persisted (unlike the exact path, whose shingle index feeds
    # two consumers): since r13 the probe aggregates straight to doc
    # grain, sh_train has exactly ONE consumer, and a persist is pure
    # materialisation overhead (measured +0.7s min-of-2 at sf0.1).
    sh_train = shingles(train, n=DECON_NGRAM)
    h_train = poly_hash("shingle")
    probe_pos = sh_train.select(
        "doc_id",
        "shingle",
        *[
            (seeded(h_train, a, c) % BLOOM_M_BITS).alias(f"__p{k}")
            for k, (a, c) in enumerate(_BLOOM_COEFFS)
        ],
    )
    in_bloom_sql = " AND ".join(
        f"((element_at(bloom_words,"
        f" CAST((__p{k} div {BLOOM_WORD_BITS}) + 1 AS INT))"
        f" & shiftleft(CAST(1 AS BIGINT),"
        f" CAST(__p{k} % {BLOOM_WORD_BITS} AS INT))) <> 0)"
        for k in range(len(_BLOOM_COEFFS))
    )
    # (doc_id, shingle) rows are DISTINCT by construction (shingles()
    # explodes array_distinct grams), and the K-way AND is evaluated
    # inline per row — so the old per-(doc, shingle) min-regroup was a
    # redundant full-width shuffle of every training shingle row
    # (removed r13). One doc_id-keyed partial aggregate remains.
    hits = probe_pos.crossJoin(F.broadcast(bloom_arr)).select(
        "doc_id",
        F.expr(in_bloom_sql).cast("int").alias("in_bloom"),
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum("in_bloom").alias("n_bloom_hits"),
        F.round(F.sum("in_bloom") / F.count("*"), 6).alias(
            "bloom_hit_ratio"
        ),
    )


def _bloom_decon_sql() -> str:
    pos_list = ", ".join(
        f"(({seeded_sql('h', a, c)}) % {BLOOM_M_BITS})"
        for a, c in _BLOOM_COEFFS
    )
    mask = f"(1::BIGINT << CAST(pos % {BLOOM_WORD_BITS} AS INT))"
    return f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS ({_DECON_SHINGLE}),
bh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0
),
bpos AS (
  SELECT unnest([{pos_list}]) AS pos
  FROM (SELECT {poly_hash_sql('shingle')} AS h FROM bh)
),
bloom AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word_idx, bit_or({mask}) AS word
  FROM bpos GROUP BY 1
),
tpos AS (
  SELECT doc_id, shingle, unnest([{pos_list}]) AS pos
  FROM (
    SELECT doc_id, shingle, {poly_hash_sql('shingle')} AS h
    FROM sh WHERE NOT (doc_id % 10 = 0)
  )
),
probe AS (
  SELECT t.doc_id, t.shingle,
         CASE WHEN b.word IS NOT NULL AND (b.word & {mask}) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM tpos t LEFT JOIN bloom b ON t.pos // {BLOOM_WORD_BITS} = b.word_idx
),
per_sh AS (
  SELECT doc_id, shingle, MIN(hit) AS in_bloom FROM probe GROUP BY 1, 2
)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(in_bloom) AS BIGINT) AS n_bloom_hits,
       ROUND(SUM(in_bloom) / COUNT(*), 6) AS bloom_hit_ratio
FROM per_sh GROUP BY 1
"""


# --- E21: PII redaction ----------------------------------------------------
# Dialect-neutral patterns (identical semantics in Java regex and RE2).
PII_PATTERNS = (
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"),
    ("phone", "\\+?[0-9][0-9()\\- ]{7,}[0-9]"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus (SURVEY E21).

    Sequentially redacts email / phone / IPv4 patterns to typed
    placeholders and counts redactions per class — pure JVM-side
    regexp_replace / regexp string expressions (no UDF), so the scrub
    runs at scan speed and composes with any downstream text operator.
    Patterns are restricted to the regex subset Java and RE2 interpret
    identically, which the oracle enforces.
    """
    docs = read_table(spark, sf_dir, "documents")
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).alias(
            f"n_{name}"
        )
        for name, pat in PII_PATTERNS
    ]
    out = redact_pii(F.col("text"))
    return docs.select(
        "doc_id",
        *counts,
        F.md5(out).alias("redacted_md5"),
        F.length(out).alias("redacted_len"),
    )


def redact_pii(text: F.Column) -> F.Column:
    """``text`` with every ``PII_PATTERNS`` match replaced by its typed
    placeholder (``<EMAIL>``, ...), applied in pattern order."""
    for name, pat in PII_PATTERNS:
        text = F.regexp_replace(text, pat, f"<{name.upper()}>")
    return text


def _pii_sql() -> str:
    out = "text"
    cols = []
    for name, pat in PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        cols.append(
            f"len(regexp_extract_all(text, '{pat_sql}')) AS n_{name}"
        )
        out = f"regexp_replace({out}, '{pat_sql}', '<{name.upper()}>', 'g')"
    return f"""
SELECT doc_id, {', '.join(cols)},
       md5({out}) AS redacted_md5,
       LENGTH({out}) AS redacted_len
FROM documents
"""


REGISTRY.update(
    {
        "decontaminate": QuerySpec(q_decontaminate, DECON_SQL),
        "bloom_decontaminate": QuerySpec(
            q_bloom_decontaminate, _bloom_decon_sql()
        ),
        "pii_redact": QuerySpec(q_pii_redact, _pii_sql()),
    }
)


# --- E22: end-to-end corpus curation --------------------------------------
CURATE_MIN_TOKENS = 10
CURATE_MIN_ALPHA = 0.45
CURATE_MAX_CONTAMINATION = 0.5
# Model-gate threshold for the E22b scored variant: the E46 hashed
# linear classifier's scores sit in ~[0.43, 0.54] on the testdata
# corpus (sigmoid of a near-zero logit), so 0.48 drops roughly the
# lowest-scoring third — the CCNet/DCLM "model-based filter keeps the
# bulk, sheds the tail" posture (score >= 0.5 would keep ~6%, a
# degenerate gate).
CURATE_MIN_QSCORE = 0.48


@prepared
def _curate_scanned(
    spark: SparkSession, sf_dir: str, classifier_gate: bool
) -> DataFrame:
    """The curation pipeline's fused quality+langid(+classifier) scan,
    persisted (see the r14 note inside). Factored out of
    q_corpus_curate so the PURE scan subplan can be prepared: repeat
    curate calls skip its py4j construction + Catalyst analysis.
    """
    from gentropy_spark.functions.text import STOPWORDS
    from gentropy_spark.operators.dedup import spread_if_narrow
    from gentropy_spark.session import track_cache

    # Spread the doc scan before the fused tokenize projection (r14):
    # the 4-language stopword scans + tokenize are the pipeline's
    # heaviest per-row kernel, and on a few-file source they ran inside
    # ONE row-group task feeding the join broadcast — the event-log
    # timeline showed that single task as a 4.6s critical-path stage
    # (vs 0.3s spread across defaultParallelism). Same guard as
    # shingles(): many-file production sources are left alone.
    docs = spread_if_narrow(read_table(spark, sf_dir, "documents"))
    # Quality gate + language ID FUSED into the doc scan (r13): both
    # are doc-grain projections over the same tokenize, so joining the
    # standalone q_text_quality / q_text_langid outputs paid two extra
    # documents scans plus two doc_id join exchanges for what one
    # staged projection computes in place. Values identical to the
    # join composition (same grain, same expressions — _char_ratio,
    # _lang_scores and _pred_lang are the standalone keys' own helpers).
    # Staging rule as in q_text_quality: the stopword scores live in
    # their own projection so each evaluates once.
    toks_df = docs.select(
        "doc_id", "source", "text", tokens(F.col("text")).alias("__toks")
    )
    extra_cols = []
    if classifier_gate:
        from gentropy_spark.functions.xhash import _poly_hash_spark_sql

        # E46's logit numerator as a fold over the SAME token array the
        # quality/langid stages already materialise — int64 adds are
        # order-free, so this equals the standalone key's
        # explode+groupBy sum exactly, with zero extra corpus passes.
        # Parsed as ONE SQL lambda (r17): the Column-path poly_hash on
        # the HOF lambda variable was the build's hot spot.
        h = _poly_hash_spark_sql("x", nchars=16)
        w_int = (
            f"((({h}) % {QCLS_BUCKETS}) * CAST({QCLS_A} AS BIGINT)"
            f" + {QCLS_C}) % CAST({QCLS_M} AS BIGINT)"
        )
        extra_cols.append(
            F.expr(
                "aggregate(__toks, CAST(0 AS BIGINT),"
                f" (acc, x) -> acc + ({w_int}))"
            ).alias("__wsum")
        )
    hof = toks_df.select(
        "doc_id",
        "source",
        "text",
        F.size(F.col("__toks")).alias("n_tokens"),
        *_lang_scores(sorted(STOPWORDS)),
        *extra_cols,
    )
    # PERSIST the scored doc table (r14). Not an optional micro-cache:
    # downstream, the sampling filter references pred_lang, and
    # predicate pushdown SUBSTITUTES aliases on its way down — the
    # event-log timeline showed the scan's Filter re-evaluating the
    # when-chain over all four stopword scores as a 3.8s single-task
    # CPU burn before the projection computed the same columns again.
    # The cache-fill plan has NO downstream predicates, so it evaluates
    # each score exactly once, spread across the repartition; every
    # consumer (keep-filter, sampler, both cumsum fork branches) then
    # reads 5 narrow columns from the cache. At cluster scale this is
    # the scored-corpus materialisation every curation pipeline
    # persists anyway (~40 B/row vs the raw text it replaces).
    score_cols = []
    if classifier_gate:
        logit = (
            F.col("__wsum").cast("double")
            / (
                F.lit(QCLS_M).cast("long")
                * F.greatest(F.col("n_tokens"), F.lit(1)).cast("long")
            )
        ) - F.lit(0.5)
        score_cols.append(
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6
            ).alias("quality_score")
        )
    return track_cache(
        hof.select(
            "doc_id",
            "source",
            "n_tokens",
            _char_ratio("[^a-zA-Z]").alias("alpha_ratio"),
            _pred_lang().alias("pred_lang"),
            *score_cols,
        )
    )


def q_corpus_curate(
    spark: SparkSession, sf_dir: str, classifier_gate: bool = False
) -> DataFrame:
    """The WHOLE preprocessing pipeline as ONE declarative plan
    (SURVEY E22): quality gate → language ID → duplicate-cluster
    canonical filter → eval-set decontamination → deterministic
    per-language sampling → fixed-budget sequence packing, emitting the
    final training-bin manifest. Every stage is one of the registry's
    oracle-checked operators composed by doc_id equi-joins, so Catalyst
    sees a single DAG (shared scans, pushed filters) rather than six
    materialisation round-trips — the difference between a pipeline
    and six jobs at 100 TB.

    ``classifier_gate`` (E22b, the `corpus_curate_scored` key — r16
    verdict item 4) additionally gates on the E46 hashed-linear
    quality score >= CURATE_MIN_QSCORE, the DCLM/CCNet model-based
    filtering posture. The score FUSES into the existing fused
    quality+langid scan: its token-weight sum rides the same staged
    ``__toks`` projection as an integer aggregate HOF (exact int64,
    order-free — identical values to E46's explode+groupBy), so the
    composed pipeline reads the corpus EXACTLY as many times as the
    base one (pinned by a scan-count test). Off by default: the base
    key's oracle is unchanged.
    """
    scanned = _curate_scanned(spark, sf_dir, classifier_gate)
    canonical = drop_non_canonical(scanned, q_dedup_minhash(spark, sf_dir))
    # Decontamination via the BLOOM probe (r13, was the exact 5-gram
    # set join): the Bloom path is the scale posture E20b exists for —
    # the eval side compresses to a fixed 4096-word broadcast array and
    # the corpus side probes inline, replacing the exact path's
    # benchmark-shingle broadcast hash join + hit regroup. No false
    # negatives by construction, so the gate only gets (deterministic,
    # cross-engine-identical) false-positive-stricter; the oracle SQL
    # below uses the same bloom semantics, bit-identical. The exact
    # variant stays registered as the `decontaminate` key.
    decon = q_bloom_decontaminate(spark, sf_dir).select(
        "doc_id", F.col("bloom_hit_ratio").alias("contamination_ratio")
    )
    gate = (
        (F.col("n_tokens") >= CURATE_MIN_TOKENS)
        & (F.col("alpha_ratio") >= CURATE_MIN_ALPHA)
        & (F.col("contamination_ratio") <= CURATE_MAX_CONTAMINATION)
    )
    if classifier_gate:
        gate = gate & (F.col("quality_score") >= F.lit(CURATE_MIN_QSCORE))
    # inner join: the benchmark split drops out here
    kept = canonical.join(decon, on="doc_id").filter(gate)
    sampled = stratified_sample(kept, "pred_lang")
    return pack_token_bins(
        sampled.select("doc_id", "source", "pred_lang", "n_tokens")
    )


def drop_non_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """``docs`` without the non-canonical members of the duplicate
    clusters that the near-dup ``pairs`` (id_a, id_b) span.

    An ANTI-join on the non-canonical drop set (tiny: bounded by
    duplicate-edge endpoints), not an inner join against the full
    duplicate_clusters output, which would drag every corpus row
    through a cluster-size window just to test one boolean (r12; values
    identical by construction). The broadcast hint is explicit (r14):
    leaving it to AQE planned a SortMergeJoin LeftAnti in the static
    plan whose ensure-requirements exchanges survived the runtime BHJ
    conversion as dead stages.
    """
    from gentropy_spark.operators.dedup import duplicate_drop_ids

    drop = duplicate_drop_ids(pairs)
    return docs.join(F.broadcast(drop), on="doc_id", how="left_anti")


def _curate_sql(scored: bool = False) -> str:
    thr = "CASE " + " ".join(
        f"WHEN pred_lang = '{lg}' THEN '{rate}'"
        for lg, rate in SAMPLE_RATES.items()
    ) + f" ELSE '{SAMPLE_DEFAULT}' END"
    # E22b: the model gate joins the E46 classifier CTE (QCLS_SQL is
    # defined later in the module; this builder is only called with
    # scored=True after it exists).
    qcls_cte = (
        f",\nqcls AS (SELECT doc_id, quality_score FROM ({QCLS_SQL}))"
        if scored
        else ""
    )
    qcls_join = "\n  JOIN qcls s USING (doc_id)" if scored else ""
    qcls_gate = (
        f"\n    AND s.quality_score >= {CURATE_MIN_QSCORE!r}::DOUBLE"
        if scored
        else ""
    )
    return f"""
WITH RECURSIVE
qual AS (SELECT doc_id, n_tokens, alpha_ratio FROM ({TEXT_QUALITY_SQL})),
lang AS ({LANGID_SQL}),
pairs AS ({MINHASH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.lbl < e.dst
),
clusters AS (
  SELECT id AS doc_id, id = MIN(lbl) AS is_canonical FROM reach GROUP BY id
),
decon AS (SELECT doc_id, bloom_hit_ratio AS contamination_ratio
          FROM ({_bloom_decon_sql()})){qcls_cte},
kept AS (
  SELECT d.doc_id, d.source, q.n_tokens, l.pred_lang
  FROM documents d
  JOIN qual q USING (doc_id)
  JOIN lang l USING (doc_id)
  JOIN clusters c USING (doc_id)
  JOIN decon x USING (doc_id){qcls_join}
  WHERE q.n_tokens >= {CURATE_MIN_TOKENS}
    AND q.alpha_ratio >= {CURATE_MIN_ALPHA}
    AND c.is_canonical
    AND x.contamination_ratio <= {CURATE_MAX_CONTAMINATION}{qcls_gate}
),
sampled AS (
  SELECT * FROM kept
  WHERE substr(md5(pred_lang || '|' || CAST(doc_id AS VARCHAR)), 1, 4) < {thr}
)
SELECT doc_id, source, pred_lang, n_tokens,
       -- BIGINT casts: DuckDB windowed SUM(BIGINT) -> HUGEINT widens
       -- past int64 in pandas and breaks driver hash parity.
       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
         // {PACK_BUDGET_TOKENS} AS BIGINT) AS bin_id
FROM sampled
"""


REGISTRY["corpus_curate"] = QuerySpec(q_corpus_curate, _curate_sql())


# --- E11b: embedding-space duplicate clusters -----------------------------
def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the embedding-cosine near-dup pairs —
    the same cluster-resolution operator (operators/dedup.py) driven by
    a different edge generator, which is the point: pair producers and
    the transitive-closure consumer compose freely."""
    from gentropy_spark.operators.dedup import duplicate_clusters

    emb = read_table(spark, sf_dir, "embeddings")
    return duplicate_clusters(
        emb, q_dedup_embedding(spark, sf_dir), id_col="vec_id"
    )


EMB_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUP_EMB_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.lbl < e.dst
),
m AS (SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM m
"""


REGISTRY["embedding_clusters"] = QuerySpec(q_embedding_clusters, EMB_CLUSTERS_SQL)


# --- E51: leading principal component by distributed power iteration -------
# PCA diagnostics over the embedding table — the whitening/variance
# prep a training-data pipeline runs before semantic dedup or mixture
# analysis (how concentrated is the embedding space?). Two power
# steps of the covariance matvec u = C v, each expressed as ONE
# corpus-grain aggregation: C v = (1/n) Σ_i ((x_i - μ)·v)(x_i - μ)
# needs only the per-row projection d_i and a per-dimension sum — no
# d x d matrix is ever materialised, which is what makes the shape
# work at 100 TB (the Halko/Mahout distributed-PCA formulation).
def _dim_table_to_array(val_col: str) -> F.Column:
    """Aggregate a (dim, value) table into ONE dim-ordered array column
    — the d-row model pivot every array-form PCA consumer broadcasts
    (the q_embedding_pca_project pattern). The transform lambda runs
    interpreted, but over a single d-element row."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct("dim", val_col))),
        lambda s: s[val_col],
    )


def _pca_x() -> F.Column:
    """The row's embedding as ``array<double>`` for the PCA chains,
    failing the query on a row whose width is not EMB_DIM. The chains
    index dims 1..EMB_DIM, so a narrower row would break mid-chain and
    a wider one would silently drop its tail. The guard is an inline
    projection (no extra job); NULL embeddings pass through as NULL."""
    e = F.col("embedding")
    return F.when(
        e.isNull() | (F.size(e) == EMB_DIM), e.cast("array<double>")
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"embeddings.vec_id %d has width %d, expected {EMB_DIM}",
                F.col("vec_id"),
                F.size(e),
            )
        )
    )


def _pca_means(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PCA keys' shared inputs: the width-checked double array per
    row (``__x``, evaluated once per row below every generator that
    reads it), the 1-row count ``n`` and the d-row per-dimension means
    (dim, mu) — one exploded-grain DECIMAL(38,12) aggregation."""
    from gentropy_spark.operators.dedup import spread_if_narrow

    emb = spread_if_narrow(
        read_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    xs = emb.select(_pca_x().alias("__x"))
    ex = xs.select(F.posexplode("__x").alias("pos", "xj")).select(
        (F.col("pos") + 1).alias("dim"), "xj"
    )
    n_row = emb.agg(F.count("*").cast("double").alias("n"))
    mus = (
        ex.groupBy("dim")
        .agg(exact_sum(F.col("xj"), 12).alias("sx"))
        .crossJoin(F.broadcast(n_row))
        .select("dim", (F.col("sx") / F.col("n")).alias("mu"))
    )
    return xs, n_row, mus


def _mu_row(mus: DataFrame) -> DataFrame:
    """The d-row means pivoted into a 1-row broadcast ``mu_arr``."""
    return F.broadcast(mus.agg(_dim_table_to_array("mu").alias("mu_arr")))


def _proj_dec12(x: F.Column, mu_arr: F.Column, l_arr: F.Column) -> F.Column:
    """Σ_j round((x_j − μ_j)·l_j, 9) as one per-row array kernel: a
    ``zip_with`` builds the 9dp terms as DECIMAL(38,12) and an
    ``aggregate`` sums them. Equal to the relational DECIMAL(38,12) SUM
    over the same terms: decimal addition is exact, so the order of
    the sum cannot matter.

    The expression does not grow with the embedding width. An unrolled
    element_at chain (about ten nodes per dim, ~640 at EMB_DIM = 64)
    is re-planned and re-code-generated on every execution, memoized
    plan or not: embedding_pca_power at sf0.01 (4 vCPU, median of 8
    interleaved runs) spent 0.83 s of a 1.24 s action as driver time
    between jobs with it, and 0.33 s of 0.72 s with this kernel. The
    cost is the tree size, not DECIMAL arithmetic: an unrolled BIGINT
    fixed-point chain kept a 0.67 s gap. The lambdas run interpreted,
    and still do not lose on executor time at scale: on a synthetic
    50k-row table the action took 6.2 s against 7.2 s unrolled.

    Per-step cast back to DECIMAL(38,12): Spark's decimal ``+`` widens
    the nominal integer part and RE-SCALES the result one digit
    narrower per chained addition (38,12 → 38,11 → 38,10 → ...),
    silently rounding the 9dp partials once the scale crosses below 9
    — measured as a 2e-6 drift vs the oracle's SUM in
    q_embedding_pca_project. The re-cast pins every partial at scale
    12, keeping the 9dp accumulation exact (= the relational SUM);
    ``aggregate`` also requires its merge to return the accumulator's
    type.

    Placement: evaluate the kernel in a projection BELOW any generator
    over the same row. Selected next to ``posexplode``, Spark's
    analyzer puts it in the Project above the Generate, so it runs
    once per exploded element (d times per row);
    tests/test_plans.py::test_no_cartesian_product_anywhere guards
    that shape registry-wide."""
    dec12 = "decimal(38,12)"
    terms = F.zip_with(
        F.zip_with(x, mu_arr, lambda xj, mj: xj - mj),
        l_arr,
        lambda cj, lj: F.round(cj * lj, 9).cast(dec12),
    )
    return F.aggregate(
        terms, F.lit(0).cast(dec12), lambda acc, t: (acc + t).cast(dec12)
    )


@prepared
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading eigenpair of the embedding covariance (E51).

    v0 = e1 (deterministic, no RNG); two matvec steps with
    normalization between them; output one row per dimension:
    (dim, mean, loading, eigenvalue) where loading = the unit second
    iterate and eigenvalue = ||C v1|| (v1 unit, so the Rayleigh-style
    norm estimate).

    Exactness discipline: every reduction is a DECIMAL(38,12) sum of
    9-dp-quantized terms (order-independent — the repo-wide FP-sum
    rule), per-row projections are themselves per-dimension DECIMAL
    sums (never a left-to-right double fold whose order a shuffle
    could change — the per-row DECIMAL kernel ``_proj_dec12`` is
    exact, so it equals the SUM), v1 components round to 12 dp before
    re-use and outputs to 6 dp. Scale shape (array form, r18): μ and v
    ride 1-row broadcast arrays, each matvec step is one explode +
    map-side-combined per-dimension aggregate over the raw scan (only
    d-row combiner partials shuffle), and nothing driver-side ever
    sees more than d rows. No cache at all: AQE reuses the d-row μ
    table's exchange for its three consumers within one query, and a
    tracked cache would only be re-persisted and re-filled on every
    memo hit after ``release_caches()`` (23 → 14 jobs per warm run).

    Evaluation grain: each step computes the row's projection d_i in
    a select BELOW its posexplode, so step 2's DECIMAL kernel runs
    once per row. In the same select as the generator it would run
    once per exploded element — d = 64 times per row, the bulk of the
    key's task CPU. Every embedding must have width EMB_DIM; any other
    width fails the query (``_pca_x``).
    """
    # mus feeds the μ-array pivot (both matvec scans) and the output
    # mean column; AQE reuses its exchange for all three.
    xs, n_row, mus = _pca_means(spark, sf_dir)
    # Array-form matvec (r18): μ rides a 1-row broadcast array, so the
    # per-row projection d_i is an inline expression over the row's own
    # embedding and each matvec step is ONE explode + map-side-combined
    # per-dimension aggregate over the raw scan. The old exploded-grain
    # cx cache joined d_i back per row — two corpus-grain vec_id
    # shuffle-joins per call plus a groupBy(vec_id) exchange for d2,
    # all carrying the n×d table; the array form shuffles only d-row
    # combiner partials. Every term is bit-identical: same
    # (x_j − μ_j) doubles, same round(·, 9) products, same order-free
    # DECIMAL(38,12) sums.
    mu_row = _mu_row(mus)

    def matvec(d_i: F.Column, *model_rows: DataFrame) -> DataFrame:
        """u = C v as the d-row (dim, u) table, given the per-row
        projection d_i = (x_i − μ)·v over the model rows' arrays.
        d_i is selected BEFORE the posexplode, so it runs once per
        row: in the same select, the analyzer would evaluate it in
        the Project above the Generate, once per element."""
        rows = xs
        for m in model_rows:
            rows = rows.crossJoin(m)
        return (
            rows.select("__x", "mu_arr", d_i.alias("__d"))
            .select(
                "__d", "mu_arr", F.posexplode("__x").alias("pos", "xj")
            )
            .select(
                (F.col("pos") + 1).alias("dim"),
                F.round(
                    F.col("__d")
                    * (
                        F.col("xj")
                        - F.element_at(F.col("mu_arr"), F.col("pos") + 1)
                    ),
                    9,
                )
                # cast below the aggregate (exact_sum's own cast is then
                # a no-op): the same decimal sum takes ~25% less task CPU
                .cast("decimal(38,12)")
                .alias("t"),
            )
            .groupBy("dim")
            .agg(exact_sum(F.col("t"), 12).alias("su"))
            .crossJoin(F.broadcast(n_row))
            .select("dim", (F.col("su") / F.col("n")).alias("u"))
        )

    # Step 1 onto v0 = e1: d_i is the centered first coordinate.
    u1 = matvec(
        F.element_at("__x", 1) - F.element_at(F.col("mu_arr"), 1), mu_row
    )
    # Norm fused as a global-window sum over the d-row u table (r18):
    # the old separate ``norm`` aggregate + broadcast crossJoin
    # re-evaluated the whole corpus-grain u subtree TWICE per iteration
    # (once inside the broadcast build, once for the consumer) and paid
    # an extra broadcast job each — measured 46 -> 25 jobs on the full
    # key. A window over a single d-row partition is scale-safe
    # (d = EMB_DIM rows) and arithmetically identical: same
    # round(u*u, 9) terms, same DECIMAL(38,12) order-free sum, same
    # double cast before sqrt.
    w_all = Window.partitionBy()
    nrm1 = F.sqrt(exact_sum(F.round(F.col("u") * F.col("u"), 9), 12, over=w_all))
    v1 = u1.select("dim", F.round(F.col("u") / nrm1, 12).alias("v"))
    # Step 2 onto v1: v rides a 1-row broadcast array and d_i is the
    # DECIMAL array kernel (== the relational SUM of the same 9dp
    # terms) — no vec_id join, no groupBy(vec_id) exchange.
    v_row = F.broadcast(v1.agg(_dim_table_to_array("v").alias("v_arr")))
    u2 = matvec(
        _proj_dec12(F.col("__x"), F.col("mu_arr"), F.col("v_arr")).cast(
            "double"
        ),
        mu_row,
        v_row,
    )
    nrm2 = F.sqrt(exact_sum(F.round(F.col("u") * F.col("u"), 9), 12, over=w_all))
    return (
        u2.withColumn("nrm", nrm2)
        .join(F.broadcast(mus), on="dim")
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("mu"), 6).alias("mean"),
            F.round(F.col("u") / F.col("nrm"), 6).alias("loading"),
            F.round(F.col("nrm"), 6).alias("eigenvalue"),
        )
    )


EMB_PCA_SQL = """
WITH ex AS (
  SELECT vec_id, g.idx AS dim, (embedding::DOUBLE[])[g.idx] AS xj
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(idx)
),
n_row AS (SELECT COUNT(*)::DOUBLE AS n FROM embeddings),
mus AS (
  SELECT dim,
         CAST(SUM(CAST(xj AS DECIMAL(38,12))) AS DOUBLE) / n AS mu
  FROM ex, n_row GROUP BY dim, n
),
cx AS (
  SELECT e.vec_id, e.dim, e.xj - m.mu AS cx
  FROM ex e JOIN mus m USING (dim)
),
d1 AS (SELECT vec_id, cx AS d FROM cx WHERE dim = 1),
u1 AS (
  SELECT c.dim,
         CAST(SUM(CAST(ROUND(d1.d * c.cx, 9) AS DECIMAL(38,12))) AS DOUBLE)
           / n AS u
  FROM cx c JOIN d1 USING (vec_id), n_row GROUP BY c.dim, n
),
norm1 AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38,12))) AS DOUBLE))
           AS nrm
  FROM u1
),
v1 AS (SELECT dim, ROUND(u / nrm, 12) AS v FROM u1, norm1),
d2 AS (
  SELECT c.vec_id,
         CAST(SUM(CAST(ROUND(c.cx * v1.v, 9) AS DECIMAL(38,12))) AS DOUBLE)
           AS d
  FROM cx c JOIN v1 USING (dim) GROUP BY c.vec_id
),
u2 AS (
  SELECT c.dim,
         CAST(SUM(CAST(ROUND(d2.d * c.cx, 9) AS DECIMAL(38,12))) AS DOUBLE)
           / n AS u
  FROM cx c JOIN d2 USING (vec_id), n_row GROUP BY c.dim, n
),
norm2 AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38,12))) AS DOUBLE))
           AS nrm
  FROM u2
)
SELECT CAST(u2.dim AS INT) AS dim,
       ROUND(m.mu, 6) AS mean,
       ROUND(u2.u / norm2.nrm, 6) AS loading,
       ROUND(norm2.nrm, 6) AS eigenvalue
FROM u2, norm2
JOIN mus m ON m.dim = u2.dim
"""


REGISTRY["embedding_pca_power"] = QuerySpec(
    q_embedding_pca_power, EMB_PCA_SQL
)


# --- E53: PCA-projected banded ANN (E51 consumed as a prefilter) -----------
# r16 verdict item 6 ("make E51 a used verb, not a leaf"): the leading
# eigenvector E51 computes becomes the candidate generator for a
# similarity search — project every vector onto the top principal
# axis (the direction of maximum variance, i.e. the 1-D sketch that
# preserves the most pairwise spread any single axis can), band the
# projection into fixed-width bins over the corpus range, and score
# exact cosine only inside each query's own±adjacent bins. The same
# composition ladder as IVF-PQ: a cheap coarse structure prunes the
# corpus, an exact kernel finishes — except here the coarse structure
# is LEARNED from the data's covariance by the registered E51 verb.
PCA_ANN_BINS = 16
PCA_ANN_K = 5


@prepared
def q_ann_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbours through a PCA-projection band prefilter
    (E53). Candidate generation: proj(x) = Σ_j round((x_j − μ_j)·v_j, 9)
    as an order-free DECIMAL sum (the E51 projection discipline),
    6dp-rounded; corpus bins = floor((proj − min)/((max − min)/16))
    clamped to [0, 15]; queries probe their own and both adjacent bins
    through an EQUI-JOIN on the bin id (3 exploded probe keys — never
    a query×corpus product). Exact cosine + (cosine DESC, corpus_id)
    ranking finishes inside the ~3/16 candidate slice.

    Scale shape: the eigen-loading and per-dim means pivot into a
    1-row broadcast array from ``q_embedding_pca_power`` (the
    composition point — the E51 output IS this operator's input);
    projections are an inline DECIMAL array kernel over the scan
    (no explode, no per-vector aggregation); the bin range is a
    1-row broadcast aggregate; candidates meet through the bin
    equi-join, so shuffle ∝ corpus + 3×queries and the exact kernel
    touches ~3/16 of the corpus per query instead of all of it.
    """
    from gentropy_spark.operators.dedup import spread_if_narrow
    from gentropy_spark.operators.similarity import (
        as_double,
        cosine_pairs_udf,
    )
    from gentropy_spark.session import track_cache

    emb = spread_if_narrow(
        read_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    pca = q_embedding_pca_power(spark, sf_dir)
    # Array-form projection (r18): the d-row E51 output pivots into a
    # 1-row (means, loadings) broadcast and proj is the per-row
    # DECIMAL array kernel — one projection over the scan instead of
    # explode + d-row join + groupBy(vec_id) exchange. Identical
    # terms: same round((x_j − mean_j)·loading_j, 9) products, and the
    # exact DECIMAL sum equals the relational SUM.
    model = F.broadcast(
        pca.agg(
            _dim_table_to_array("mean").alias("m_arr"),
            _dim_table_to_array("loading").alias("l_arr"),
        )
    )
    proj = track_cache(
        emb.select("vec_id", _pca_x().alias("__x"))
        .crossJoin(model)
        .select(
            "vec_id",
            F.round(
                _proj_dec12(
                    F.col("__x"), F.col("m_arr"), F.col("l_arr")
                ).cast("double"),
                6,
            ).alias("proj"),
        )
    )
    corpus_proj = proj.filter(F.col("vec_id") >= 10)
    rng = corpus_proj.agg(
        F.min("proj").alias("mn"), F.max("proj").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(PCA_ANN_BINS))
    bin_expr = (
        F.when(width == 0, F.lit(0))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor((F.col("proj") - F.col("mn")) / width), F.lit(0)
                ),
                F.lit(PCA_ANN_BINS - 1),
            )
        )
        .cast("int")
    )
    binc = corpus_proj.crossJoin(F.broadcast(rng)).select(
        F.col("vec_id").alias("corpus_id"), bin_expr.alias("bin")
    )
    binq = (
        proj.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(rng))
        .select(F.col("vec_id").alias("query_id"), bin_expr.alias("qbin"))
        .select(
            "query_id",
            F.explode(
                F.array(
                    F.col("qbin") - 1, F.col("qbin"), F.col("qbin") + 1
                )
            ).alias("bin"),
        )
    )
    cos = cosine_pairs_udf()
    scored = (
        binq.join(binc, on="bin")
        .join(
            vecs.select(
                F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
            ),
            on="query_id",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("corpus_id"), F.col("v").alias("cv")
            ),
            on="corpus_id",
        )
        .withColumn("cosine", F.round(cos(F.col("qv"), F.col("cv")), 6))
    )
    from pyspark.sql import Window

    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= PCA_ANN_K)
        .select(
            "query_id",
            "corpus_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_PCA_BIN_CASE = (
    f"CAST(CASE WHEN (mx - mn) / {float(PCA_ANN_BINS)!r} = 0 THEN 0 "
    f"ELSE LEAST(GREATEST(FLOOR((proj - mn) "
    f"/ ((mx - mn) / {float(PCA_ANN_BINS)!r})), 0), {PCA_ANN_BINS - 1}) "
    "END AS INT)"
)

ANN_PCA_SQL = f"""
WITH pca AS MATERIALIZED ({EMB_PCA_SQL}),
exv AS (
  SELECT vec_id, g.idx AS dim, (embedding::DOUBLE[])[g.idx] AS xj
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(idx)
),
proj AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(CAST(SUM(CAST(ROUND((e.xj - p.mean) * p.loading, 9)
               AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
  FROM exv e JOIN pca p USING (dim) GROUP BY e.vec_id
),
rng AS (SELECT MIN(proj) AS mn, MAX(proj) AS mx
        FROM proj WHERE vec_id >= 10),
binc AS (
  SELECT vec_id AS corpus_id, {_PCA_BIN_CASE} AS bin
  FROM proj, rng WHERE vec_id >= 10
),
binq AS (
  SELECT query_id, qbin + d.d AS bin FROM (
    SELECT vec_id AS query_id, {_PCA_BIN_CASE} AS qbin
    FROM proj, rng WHERE vec_id < 10
  ), (VALUES (-1), (0), (1)) AS d(d)
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.query_id, c.corpus_id, {COS_SQL} AS cosine
  FROM binq q
  JOIN binc c USING (bin)
  JOIN vecs a ON a.vec_id = q.query_id
  JOIN vecs b ON b.vec_id = c.corpus_id
)
SELECT query_id, corpus_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {PCA_ANN_K}
"""


REGISTRY["ann_pca_topk"] = QuerySpec(q_ann_pca_topk, ANN_PCA_SQL)


# --- E54: top-m eigenpairs by Hotelling deflation ---------------------------
# The r16 verdict sketched this as E51's natural extension: after the
# leading eigenpair, deflate the centered data (cx' = cx − (cx·v)v —
# the Hotelling projection, exact regardless of how converged v is)
# and re-run the same two-step power iteration on the residual. Each
# extra component costs ONE deflation pass + the E51 matvec block; no
# d×d matrix ever materializes, so the shape scales exactly like E51.
PCA_TOPM = 3


def _topm_eigen_kernel(pdf_iter):
    """The corpus-free eigen-iteration over the d²-row covariance
    table, as ONE Arrow batch task: two-step power blocks + matrix
    Hotelling deflation for all PCA_TOPM components. Every rounding
    mirrors the engine discipline EXACTLY — products quantized to
    9dp with python Decimal HALF_UP (= Spark F.round = BigDecimal
    setScale(9, HALF_UP): both operate on the exact binary expansion
    of the double), sums taken over the exact 9dp Decimals (= the
    DECIMAL(38,12) relational SUM), unit vectors re-quantized to
    12dp, float divisions/sqrt IEEE-identical across engines, and
    the deflation update left-associated like the SQL expression.
    ~26k Decimal ops total (~30 ms) on 4096 rows — the one place a
    Python kernel beats declarative: ~20 scheduler-bound tiny-table
    jobs collapse into a single task."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    Q9 = Decimal(1).scaleb(-9)
    Q12 = Decimal(1).scaleb(-12)

    def q9(x: float) -> Decimal:
        return Decimal(x).quantize(Q9, rounding=ROUND_HALF_UP)

    def r12(x: float) -> float:
        return float(Decimal(x).quantize(Q12, rounding=ROUND_HALF_UP))

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    d = int(rows["k"].max())
    G = [[0.0] * d for _ in range(d)]
    for j, k, g in zip(rows["j"], rows["k"], rows["g"]):
        # the input is the upper triangle; mirror it (S_kj == S_jk
        # exactly — IEEE multiply commutes, DECIMAL sums are exact)
        G[int(j) - 1][int(k) - 1] = float(g)
        G[int(k) - 1][int(j) - 1] = float(g)
    out = {"component": [], "dim": [], "v": [], "eig": []}
    for comp in range(1, PCA_TOPM + 1):
        u1 = [float(q9(G[j][0])) for j in range(d)]
        nrm1 = math.sqrt(float(sum(q9(u * u) for u in u1)))
        v1 = [r12(u / nrm1) for u in u1]
        u2 = [
            float(sum(q9(G[j][k] * v1[k]) for k in range(d)))
            for j in range(d)
        ]
        nrm2 = math.sqrt(float(sum(q9(u * u) for u in u2)))
        vf = [r12(u / nrm2) for u in u2]
        out["component"] += [comp] * d
        out["dim"] += list(range(1, d + 1))
        out["v"] += vf
        out["eig"] += [nrm2] * d
        if comp < PCA_TOPM:
            w = [
                float(sum(q9(G[j][k] * vf[k]) for k in range(d)))
                for j in range(d)
            ]
            s = float(sum(q9(vf[j] * w[j]) for j in range(d)))
            G = [
                [
                    G[j][k]
                    - vf[j] * w[k]
                    - w[j] * vf[k]
                    + vf[j] * vf[k] * s
                    for k in range(d)
                ]
                for j in range(d)
            ]
    yield pd.DataFrame(out)


@prepared
def q_embedding_pca_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-m eigenpairs of the embedding covariance by deflated power
    iteration (E54). Output one row per (component, dim): 6dp mean /
    loading / eigenvalue plus var_ratio = eigenvalue over the total
    variance trace — the explained-variance share a curation pipeline
    reads to decide how many projection axes its prefilters deserve.

    Formulation (the small-d covariance method — Spark MLlib's
    RowMatrix/Gramian posture, valid for the engine-wide EMB_DIM
    width): ONE corpus pass builds the d×d covariance table G_jk =
    (Σ_i round(c_ij·c_ik, 9))/n — chained upper-triangle generators
    over each row's own embedding (r18; no vec_id self-join),
    partial-aggregate into d² groups so only the combiner output
    crosses the wire. Every later step — all m power blocks AND the
    matrix-level Hotelling deflation C' = (I − vv^T) C (I − vv^T),
    expanded to C'_jk = C_jk − v_j w_k − w_j v_k + v_j v_k (v·w)
    with w = C v — is corpus-free math on 4096 values, and runs as
    ONE Arrow task (_topm_eigen_kernel) with exact HALF_UP Decimal
    arithmetic mirroring the engine quantization. Why a kernel, for
    once: the first cut re-ran E51's explode+join matvec per
    component (~30 corpus-touching jobs, 10.8s at sf0.1 vs a 0.5s
    DuckDB leg); a second cut unrolled per-row 64-term DECIMAL
    chains into whole-stage codegen and OOM'd janino with 300-650 KB
    generated sources per stage; a third ran the iteration
    relationally on the d²-row table and still paid ~20
    scheduler-bound tiny-table jobs. 4096 rows × ~26k Decimal ops is
    driver-constant work — the one shape where an Arrow task beats
    declarative, and it leaves the plan with exactly two data-grain
    stages (mean agg, Gram agg).

    Exactness: every relational reduction (mu numerators, G entries)
    is a DECIMAL(38,12) sum of 9dp-quantized products — order-free
    under shuffle; the kernel sums exact 9dp Decimals (= the
    relational SUM), re-quantizes unit vectors to 12dp, and
    left-associates the deflation update exactly like the SQL
    expression; outputs round to 6dp; trace = (Σ_j S_jj)/n from the
    exact DECIMAL diagonal sums. ``prepared``, so the mus/gram persist
    marks are re-registered on every memo hit.
    """
    from gentropy_spark.session import track_cache

    xs, n_row, mus = _pca_means(spark, sf_dir)
    mus = track_cache(mus)
    # The one corpus-grain stage: G via chained generators over the
    # row's own embedding (r18) — the old form self-joined the
    # exploded cx table on vec_id, shuffling the n×d table TWICE just
    # to pair a row's coordinates with themselves. Two posexplodes
    # (the second over the j.. suffix slice, so only the upper
    # triangle is ever generated) produce the identical
    # round(cx_j·cx_k, 9) terms scan-locally, and only the d²-group
    # combiner output leaves the map side. The exact DECIMAL
    # numerators ride along for the trace.
    # Upper triangle only: C is symmetric and IEEE multiplication
    # commutes, so S_kj == S_jk EXACTLY — the kernel mirrors the
    # triangle, halving the 9dp round + DECIMAL-add cost that
    # dominates this pass at scale.
    # Per-grain placement: the per-j values (j, cxj) are selected
    # BEFORE the second posexplode, so they run once per (row, j) and
    # not once per (row, j, k); the k range is the suffix slice of the
    # row's own width.
    mu_row = _mu_row(mus)
    e1 = xs.crossJoin(mu_row).select(
        "__x", "mu_arr", F.posexplode("__x").alias("jpos", "xj")
    )
    e2 = e1.select(
        "__x",
        "mu_arr",
        "jpos",
        (F.col("jpos") + 1).alias("j"),
        (
            F.col("xj") - F.element_at(F.col("mu_arr"), F.col("jpos") + 1)
        ).alias("cxj"),
    ).select(
        "j",
        "cxj",
        "mu_arr",
        F.posexplode(
            F.slice(
                F.col("__x"),
                F.col("jpos") + 1,
                F.size("__x") - F.col("jpos"),
            )
        ).alias("kpos", "xk"),
    )
    gram = track_cache(
        e2.select(
            "j",
            (F.col("j") + F.col("kpos")).alias("k"),
            F.round(
                F.col("cxj")
                * (
                    F.col("xk")
                    - F.element_at(
                        F.col("mu_arr"), F.col("j") + F.col("kpos")
                    )
                ),
                9,
            )
            .cast("decimal(38,12)")  # below the aggregate, as in the matvec
            .alias("t"),
        )
        .groupBy("j", "k")
        .agg(exact_decimal_sum(F.col("t"), 12).alias("s"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "j", "k", "s", (F.col("s").cast("double") / F.col("n")).alias("g")
        )
    )
    tot = (
        gram.filter(F.col("j") == F.col("k"))
        .agg(F.sum(F.col("s")).cast("double").alias("ss"))
        .crossJoin(F.broadcast(n_row))
        .select((F.col("ss") / F.col("n")).alias("tv"))
    )
    # The corpus-free iteration: one Arrow task over the d² rows.
    allc = (
        gram.select("j", "k", "g")
        .coalesce(1)
        .mapInPandas(
            _topm_eigen_kernel,
            schema="component int, dim int, v double, eig double",
        )
    )
    return (
        allc.crossJoin(F.broadcast(tot))
        .join(F.broadcast(mus), on="dim")
        .select(
            "component",
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("mu"), 6).alias("mean"),
            F.round(F.col("v"), 6).alias("loading"),
            F.round(F.col("eig"), 6).alias("eigenvalue"),
            F.round(F.col("eig") / F.col("tv"), 6).alias("var_ratio"),
        )
    )


def _gram_power_block_sql(k: int) -> str:
    """The two-step power-iteration CTE block over the d²-row
    covariance table g{k} — the relational mirror of the kernel's
    power block (same 9dp/12dp quantization points; relational SUM =
    the kernel's exact-Decimal sum). Every multiply-referenced CTE
    is MATERIALIZED (the r9b iterative-oracle trap: DuckDB otherwise
    inlines the feeder per use, 2^iters copies by component 3)."""
    return f"""
u1_{k} AS (SELECT j, ROUND(g, 9) AS u FROM g{k} WHERE k = 1),
norm1_{k} AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38,12))) AS DOUBLE))
           AS nrm
  FROM u1_{k}
),
v1_{k} AS (SELECT j, ROUND(u / nrm, 12) AS v FROM u1_{k}, norm1_{k}),
u2_{k} AS MATERIALIZED (
  SELECT m.j,
         CAST(SUM(CAST(ROUND(m.g * v.v, 9) AS DECIMAL(38,12))) AS DOUBLE)
           AS u
  FROM g{k} m JOIN v1_{k} v ON v.j = m.k GROUP BY m.j
),
norm2_{k} AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38,12))) AS DOUBLE))
           AS nrm
  FROM u2_{k}
),
vf_{k} AS MATERIALIZED (
  SELECT j, ROUND(u / nrm, 12) AS v, nrm AS eig FROM u2_{k}, norm2_{k}
)"""


def _gram_deflate_block_sql(k: int) -> str:
    """Matrix-level Hotelling deflation C' = (I − vv^T) C (I − vv^T)
    expanded elementwise with w = C v and s = v·w — plain double
    arithmetic on DECIMAL-summed deterministic operands."""
    return f"""
w_{k} AS MATERIALIZED (
  SELECT m.j,
         CAST(SUM(CAST(ROUND(m.g * v.v, 9) AS DECIMAL(38,12))) AS DOUBLE)
           AS w
  FROM g{k} m JOIN vf_{k} v ON v.j = m.k GROUP BY m.j
),
s_{k} AS (
  SELECT CAST(SUM(CAST(ROUND(v.v * w.w, 9) AS DECIMAL(38,12))) AS DOUBLE)
           AS s
  FROM vf_{k} v JOIN w_{k} w USING (j)
),
g{k + 1} AS MATERIALIZED (
  SELECT m.j, m.k,
         m.g - vj.v * wk.w - wj.w * vk.v + vj.v * vk.v * s.s AS g
  FROM g{k} m
  JOIN vf_{k} vj ON vj.j = m.j
  JOIN vf_{k} vk ON vk.j = m.k
  JOIN w_{k} wj ON wj.j = m.j
  JOIN w_{k} wk ON wk.j = m.k, s_{k} s
)"""


def _pca_topm_sql() -> str:
    blocks = []
    for k in range(1, PCA_TOPM + 1):
        blocks.append(_gram_power_block_sql(k))
        if k < PCA_TOPM:
            blocks.append(_gram_deflate_block_sql(k))
    union = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS component, j AS dim, v, eig"
        f" FROM vf_{k}"
        for k in range(1, PCA_TOPM + 1)
    )
    return f"""
WITH ex AS (
  SELECT vec_id, g.idx AS dim, (embedding::DOUBLE[])[g.idx] AS xj
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(idx)
),
n_row AS (SELECT COUNT(*)::DOUBLE AS n FROM embeddings),
mus AS MATERIALIZED (
  SELECT dim,
         CAST(SUM(CAST(xj AS DECIMAL(38,12))) AS DOUBLE) / n AS mu
  FROM ex, n_row GROUP BY dim, n
),
cx AS MATERIALIZED (
  SELECT e.vec_id, e.dim, e.xj - m.mu AS cx
  FROM ex e JOIN mus m USING (dim)
),
gs AS MATERIALIZED (
  SELECT a.dim AS j, b.dim AS k,
         SUM(CAST(ROUND(a.cx * b.cx, 9) AS DECIMAL(38,12))) AS s
  FROM cx a JOIN cx b USING (vec_id) GROUP BY a.dim, b.dim
),
g1 AS MATERIALIZED (
  SELECT j, k, CAST(s AS DOUBLE) / n AS g FROM gs, n_row
),
trace AS (
  SELECT CAST(SUM(s) AS DOUBLE) / n AS tv
  FROM gs, n_row WHERE j = k GROUP BY n
),
{",".join(blocks)},
allc AS ({union})
SELECT u.component, CAST(u.dim AS INT) AS dim,
       ROUND(m.mu, 6) AS mean,
       ROUND(u.v, 6) AS loading,
       ROUND(u.eig, 6) AS eigenvalue,
       ROUND(u.eig / t.tv, 6) AS var_ratio
FROM allc u, trace t
JOIN mus m ON m.dim = u.dim
"""


EMB_PCA_TOPM_SQL = _pca_topm_sql()

REGISTRY["embedding_pca_topm"] = QuerySpec(
    q_embedding_pca_topm, EMB_PCA_TOPM_SQL
)


# --- E55: per-vector principal-component coordinates (E54 consumed) --------
# The corpus-map verb: project every embedding onto the top-2
# principal axes E54 computes — the 2-D coordinates a dataset
# explorer (Atlas-style corpus maps) or a stratified-sampling stage
# reads. Composition point: the E54 OUTPUT (6dp means + loadings) is
# this operator's broadcast input, the same consumed-verb posture as
# ann_pca_topk over E51.
PCA_PROJECT_COMPONENTS = 2


@prepared
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-2 PC coordinates (E55): pc_k = Σ_j round((x_j −
    mean_j)·loading_kj, 9) as order-free DECIMAL sums, 6dp output.
    The consumed E54 output (its 6dp means and loadings — the
    composition contract) is pivoted into three d-length arrays on a
    1-row broadcast; both coordinates are then DECIMAL array kernels
    (``_proj_dec12``) inside ONE projection over the embeddings scan —
    zero exchanges downstream of the model build, no explode, no
    per-vector aggregation (the pii_redact plan class, with the E54
    chain riding the broadcast side).
    """
    from gentropy_spark.operators.dedup import spread_if_narrow

    emb = spread_if_narrow(
        read_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    pca = q_embedding_pca_topm(spark, sf_dir).filter(
        F.col("component") <= PCA_PROJECT_COMPONENTS
    )
    per = pca.groupBy("component").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "loading"))),
            lambda s: s["loading"],
        ).alias("l"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s["mean"],
        ).alias("m"),
    )
    model = per.agg(
        F.max(F.when(F.col("component") == 1, F.col("l"))).alias("l1"),
        F.max(F.when(F.col("component") == 2, F.col("l"))).alias("l2"),
        F.max(F.when(F.col("component") == 1, F.col("m"))).alias("mu"),
    )

    def proj(lcol: F.Column) -> F.Column:
        return F.round(
            _proj_dec12(F.col("__x"), F.col("mu"), lcol).cast("double"),
            6,
        )

    return (
        emb.select("vec_id", _pca_x().alias("__x"))
        .crossJoin(F.broadcast(model))
        .select(
            "vec_id",
            proj(F.col("l1")).alias("pc1"),
            proj(F.col("l2")).alias("pc2"),
        )
    )


EMB_PCA_PROJECT_SQL = f"""
WITH topm AS MATERIALIZED ({EMB_PCA_TOPM_SQL}),
exv AS (
  SELECT vec_id, g.idx AS dim, (embedding::DOUBLE[])[g.idx] AS xj
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(idx)
)
SELECT e.vec_id,
       ROUND(CAST(SUM(CASE WHEN p.component = 1 THEN
             CAST(ROUND((e.xj - p.mean) * p.loading, 9)
                  AS DECIMAL(38,12)) END) AS DOUBLE), 6) AS pc1,
       ROUND(CAST(SUM(CASE WHEN p.component = 2 THEN
             CAST(ROUND((e.xj - p.mean) * p.loading, 9)
                  AS DECIMAL(38,12)) END) AS DOUBLE), 6) AS pc2
FROM exv e
JOIN topm p ON p.dim = e.dim AND p.component <= {PCA_PROJECT_COMPONENTS}
GROUP BY e.vec_id
"""

REGISTRY["embedding_pca_project"] = QuerySpec(
    q_embedding_pca_project, EMB_PCA_PROJECT_SQL
)


# --- E23: training-mixture table ------------------------------------------
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) document and token totals with corpus share —
    the mixture table sampling-weight design starts from. One
    partial-agg groupBy; shares via a broadcast-joined 1-row total."""
    from gentropy_spark.functions.text import token_count_bpe_ish

    docs = read_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang", "source", token_count_bpe_ish(F.col("text")).alias("n_tok")
    ).groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    totals = per.agg(F.sum("n_tokens").alias("total_tokens"))
    return per.crossJoin(F.broadcast(totals)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias("token_share"),
    )


MIXTURE_SQL = """
WITH per AS (
  -- BIGINT cast: DuckDB SUM(BIGINT) -> HUGEINT breaks driver hash parity.
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_extract_all(lower(text),
           '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
t AS (SELECT SUM(n_tokens) AS total_tokens FROM per)
SELECT lang, source, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share
FROM per, t
"""


REGISTRY["corpus_mixture"] = QuerySpec(q_corpus_mixture, MIXTURE_SQL)


# --- E24: deterministic k-means assignment step ---------------------------
KMEANS_K = 8


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd assignment step (SURVEY E24).

    The distributed half of a k-means fit: assign every vector to its
    nearest centroid (deterministic init: the K lowest vec_ids, the
    same convention as the IVF quantizer) and emit per-centroid
    occupancy + within-cluster dispersion — the statistics the next
    centroid update consumes. Centroids broadcast; distances are
    array-HOF expressions (zip_with + aggregate), rounded to 6dp
    BEFORE the argmin so both engines pick identical winners. Shuffle
    is one partial-agg groupBy on centroid_id — the iterate-until-
    converged driver loop composes this step exactly like the
    reference composes its trainer steps.
    """
    from pyspark.sql import Window

    from gentropy_spark.operators.similarity import as_double

    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "dist2", F.round(d2, 6)
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "centroid_id")
    assigned = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        F.round(exact_sum(F.col("dist2")) / F.count("*"), 6).alias("avg_dist2"),
    )


KMEANS_SQL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, v AS c FROM vecs WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT vecs.vec_id, cents.centroid_id,
         ROUND(list_sum(list_transform(list_zip(v, c),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist2
  FROM vecs CROSS JOIN cents
),
assigned AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist2, centroid_id) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT centroid_id, COUNT(*) AS n_assigned,
       ROUND(CAST(SUM(CAST(dist2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_dist2
FROM assigned GROUP BY 1
"""


REGISTRY["kmeans_step"] = QuerySpec(q_kmeans_step, KMEANS_SQL)


# --- E25: mixture rebalancing → sampling thresholds -----------------------
# Target language shares for the curated corpus (policy input).
TARGET_SHARES = {"en": 0.3, "zh": 0.2, "es": 0.2, "de": 0.15, "fr": 0.15}


def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the sampling loop (SURVEY E25): from the MEASURED mixture
    (corpus_mixture) and a TARGET mixture, derive each stratum's keep
    rate and the md5-keyspace threshold the deterministic sampler
    consumes — rate = min(1, (target/actual) · headroom), where
    headroom is the largest global scale that keeps every rate ≤ 1
    (classic waterfilling against the binding stratum). Emits the hex
    thresholds sample_stratified takes as policy, so mixture → rates →
    sample is measured, not hand-tuned.
    """
    per_lang = (
        q_corpus_mixture(spark, sf_dir)
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("n_tokens"))
    )
    total = per_lang.agg(F.sum("n_tokens").alias("total_tokens"))
    cur = per_lang.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") / F.col("total_tokens")).alias("actual_share"),
    )
    tgt = F.create_map(
        *[x for lg, sh in TARGET_SHARES.items() for x in (F.lit(lg), F.lit(sh))]
    )
    with_ratio = cur.withColumn(
        "target_share", F.coalesce(tgt[F.col("lang")], F.lit(0.0))
    ).withColumn("ratio", F.col("target_share") / F.col("actual_share"))
    # headroom = 1 / max(ratio): scale all ratios so the binding
    # stratum lands exactly at rate 1.
    head = with_ratio.agg(
        (F.lit(1.0) / F.max("ratio")).alias("headroom")
    )
    return (
        with_ratio.crossJoin(F.broadcast(head))
        .select(
            "lang",
            "n_tokens",
            F.round(F.col("actual_share"), 6).alias("actual_share"),
            F.col("target_share"),
            F.round(
                F.least(F.col("ratio") * F.col("headroom"), F.lit(1.0)), 6
            ).alias("keep_rate"),
            # greatest(..., 0): a stratum with keep_rate 0 (lang absent
            # from TARGET_SHARES) floors to -1, and '%04x' of -1 prints
            # 'ffffffff' — a keep-everything threshold, the inverted
            # policy. Clamp so rate 0 emits '0000' (keep nothing).
            F.format_string(
                "%04x",
                F.greatest(
                    F.floor(
                        F.least(F.col("ratio") * F.col("headroom"), F.lit(1.0))
                        * 65536
                        - 1e-9
                    ),
                    F.lit(0),
                ).cast("int"),
            ).alias("sample_threshold_hex"),
        )
    )


_TGT_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN {format(sh, '.17e')}"
    for lg, sh in TARGET_SHARES.items()
) + " ELSE 0.0e0 END"

MIXTURE_REBALANCE_SQL = f"""
WITH per_lang AS (
  -- BIGINT cast: DuckDB SUM(BIGINT) -> HUGEINT breaks driver hash parity.
  SELECT lang,
         CAST(SUM(len(regexp_extract_all(lower(text),
           '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT SUM(n_tokens) AS total_tokens FROM per_lang),
cur AS (
  SELECT lang, n_tokens,
         CAST(n_tokens AS DOUBLE) / total_tokens AS actual_share,
         {_TGT_CASE} AS target_share
  FROM per_lang, t
),
r AS (SELECT *, target_share / actual_share AS ratio FROM cur),
h AS (SELECT 1.0 / MAX(ratio) AS headroom FROM r)
SELECT lang, n_tokens, ROUND(actual_share, 6) AS actual_share, target_share,
       ROUND(LEAST(ratio * headroom, 1.0), 6) AS keep_rate,
       printf('%04x',
              CAST(GREATEST(FLOOR(LEAST(ratio * headroom, 1.0) * 65536 - 1e-9),
                            0) AS INT)) AS sample_threshold_hex
FROM r, h
"""


REGISTRY["mixture_rebalance"] = QuerySpec(q_mixture_rebalance, MIXTURE_REBALANCE_SQL)


# --- E26: line-level boilerplate detection --------------------------------
BOILER_MIN_DOCS = 5  # a line shared by this many docs is boilerplate
BOILER_MIN_CHARS = 10  # ignore trivial short lines


def q_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-line detection (SURVEY E26).

    Doc-level dedup can't catch shared navigation/footer LINES inside
    otherwise-distinct documents — the line-level sweep every HTML
    corpus needs. Explode documents to lines, count distinct-document
    frequency per line (partial-agg groupBy), join the heavy lines
    back, and emit per-doc boilerplate evidence. The line table is the
    big intermediate; everything after the counts is join-pruned to
    flagged lines only.
    """
    docs = read_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "\\. ")).alias("line"),
    ).filter(F.length("line") >= BOILER_MIN_CHARS)
    lines = lines.select("doc_id", "line").distinct()
    heavy = (
        lines.groupBy("line")
        .agg(F.count("*").alias("n_docs_with_line"))
        .filter(F.col("n_docs_with_line") >= BOILER_MIN_DOCS)
    )
    per_doc = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    boiler = (
        lines.join(heavy, on="line")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler_lines"))
    )
    return (
        per_doc.join(boiler, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_boiler_lines"), F.lit(0)).alias("n_boiler_lines"),
            F.round(
                F.coalesce(F.col("n_boiler_lines"), F.lit(0)) / F.col("n_lines"),
                6,
            ).alias("boiler_ratio"),
        )
    )


LINE_BOILER_SQL = f"""
WITH lines AS (
  SELECT DISTINCT doc_id, line
  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS line FROM documents)
  WHERE LENGTH(line) >= {BOILER_MIN_CHARS}
),
heavy AS (
  SELECT line, COUNT(*) AS n_docs_with_line
  FROM lines GROUP BY 1 HAVING COUNT(*) >= {BOILER_MIN_DOCS}
),
per_doc AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY 1),
boiler AS (
  SELECT l.doc_id, COUNT(*) AS n_boiler_lines
  FROM lines l JOIN heavy h USING (line) GROUP BY 1
)
SELECT p.doc_id, p.n_lines,
       COALESCE(b.n_boiler_lines, 0) AS n_boiler_lines,
       ROUND(CAST(COALESCE(b.n_boiler_lines, 0) AS DOUBLE) / p.n_lines, 6)
         AS boiler_ratio
FROM per_doc p LEFT JOIN boiler b ON p.doc_id = b.doc_id
"""


REGISTRY["line_boilerplate"] = QuerySpec(q_line_boilerplate, LINE_BOILER_SQL)


# --- E27: duplicate-graph triangle counts ---------------------------------
@prepared
def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the verified near-duplicate graph (the
    node-iterator algorithm): length-2 paths a<b<c by joining the
    ordered edge list with itself, closed by an equi-join back onto the
    edges — never an all-pairs product, cost tracks path2 fan-out. A
    document's triangle membership measures how DENSE its duplicate
    neighbourhood is (clique-like template families vs chains), the
    signal cluster-size alone misses.
    """
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    e = track_cache(q_dedup_minhash(spark, sf_dir).select("id_a", "id_b"))
    path2 = (
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .join(
            e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c")),
            on="b",
        )
    )
    tri = path2.join(
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c")),
        on=["a", "c"],
    )
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
    per_doc = corners.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
    )


DUP_TRIANGLES_SQL = f"""
WITH pairs AS ({MINHASH_SQL}),
e AS (SELECT id_a, id_b FROM pairs),
path2 AS (
  SELECT x.id_a AS a, x.id_b AS b, y.id_b AS c
  FROM e x JOIN e y ON x.id_b = y.id_a
),
tri AS (
  SELECT p.a, p.b, p.c
  FROM path2 p JOIN e ON e.id_a = p.a AND e.id_b = p.c
),
corners AS (
  SELECT unnest([a, b, c]) AS doc_id FROM tri
),
per_doc AS (SELECT doc_id, COUNT(*) AS n_triangles FROM corners GROUP BY 1)
SELECT d.doc_id, COALESCE(p.n_triangles, 0) AS n_triangles
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


REGISTRY["dup_triangles"] = QuerySpec(q_dup_triangles, DUP_TRIANGLES_SQL)


# --- E28: language-ID evaluation ------------------------------------------
def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation in the engine (SURVEY E28): confusion counts of
    predicted vs labelled language plus per-label recall — the
    eval-loop counterpart of text_langid, so classifier quality is a
    query, not a notebook. One partial-agg groupBy; recall via a
    label-total join (broadcast-sized)."""
    docs = read_table(spark, sf_dir, "documents")
    pred = q_text_langid(spark, sf_dir)
    joined = docs.select("doc_id", F.col("lang").alias("label")).join(
        pred, on="doc_id"
    )
    conf = joined.groupBy("label", "pred_lang").agg(F.count("*").alias("n"))
    totals = conf.groupBy("label").agg(F.sum("n").alias("label_total"))
    return conf.join(totals, on="label").select(
        "label",
        "pred_lang",
        "n",
        (F.col("label") == F.col("pred_lang")).alias("is_correct"),
        F.round(F.col("n") / F.col("label_total"), 6).alias("label_share"),
    )


LANGID_EVAL_SQL = f"""
WITH pred AS ({LANGID_SQL}),
joined AS (
  SELECT d.doc_id, d.lang AS label, p.pred_lang
  FROM documents d JOIN pred p USING (doc_id)
),
conf AS (SELECT label, pred_lang, COUNT(*) AS n FROM joined GROUP BY 1, 2),
totals AS (SELECT label, SUM(n) AS label_total FROM conf GROUP BY 1)
SELECT c.label, c.pred_lang, c.n,
       c.label = c.pred_lang AS is_correct,
       ROUND(CAST(c.n AS DOUBLE) / t.label_total, 6) AS label_share
FROM conf c JOIN totals t USING (label)
"""


# --- E29: per-language character-trigram profile --------------------------
CHAR_NGRAM_TOP = 5


def q_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top character trigrams per labelled language — the profile a
    character-n-gram language identifier is trained from (the
    model-BUILD counterpart of text_langid's stopword heuristic).
    Trigrams via substring-over-sequence (pure Column expressions);
    counts partial-agg; one ranking window over the per-language
    aggregate (small by construction)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    grams = docs.select(
        F.col("lang"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(low) - 2, F.lit(0))),
                lambda i: low.substr(i, F.lit(3)),
            )
        ).alias("gram"),
    ).filter(F.length("gram") == 3)
    counts = grams.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CHAR_NGRAM_TOP)
        .select("lang", "gram", "n", "rank")
    )


CHAR_NGRAM_SQL = f"""
WITH grams AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, GREATEST(LENGTH(lower(text)) - 2, 0)),
                i -> substr(lower(text), i, 3))) AS gram
  FROM documents
),
counts AS (
  SELECT lang, gram, COUNT(*) AS n FROM grams
  WHERE LENGTH(gram) = 3 GROUP BY 1, 2
)
SELECT lang, gram, n,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS INT)
         AS rank
FROM counts
QUALIFY rank <= {CHAR_NGRAM_TOP}
"""


REGISTRY.update(
    {
        "langid_eval": QuerySpec(q_langid_eval, LANGID_EVAL_SQL),
        "char_ngram_profile": QuerySpec(q_char_ngram_profile, CHAR_NGRAM_SQL),
    }
)


# --- E30: n-gram LM perplexity quality score -------------------------------
# CCNet-style corpus filtering: score every document by its perplexity
# under a bigram language model trained on the corpus itself (public
# method: Wenzek et al. 2020, "CCNet: Extracting High Quality
# Monolingual Datasets from Web Crawl Data" — there a KenLM 5-gram;
# here an add-alpha bigram, which keeps the oracle SQL-expressible).
LM_ALPHA = 0.1


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w_prev, w) adjacent-token pairs, SHUFFLE-FREE (r17).

    Both LM scorers previously built bigrams as ``lag(w) OVER
    (PARTITION BY doc_id ORDER BY pos)`` on the exploded token stream
    — a full corpus-token-grain exchange + sort whose only purpose
    was to pair each token with its neighbour INSIDE an array the
    scan already holds. Adjacent pairs come straight off the token
    array instead: zip slice(toks, 1, n-1) with slice(toks, 2, n-1)
    and explode — scan-local, whole-stage codegen (arrays_zip is an
    ordinary expression, not a CodegenFallback HOF), zero exchanges.
    Bigram multiset per doc is identical by construction (the lag
    window ordered by the posexplode position IS array order); docs
    with < 2 tokens produce no rows in both forms (slice length
    clamps to 0; lag's first row was null-filtered).
    """
    from gentropy_spark.functions.text import tokens

    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    n1 = F.greatest(F.size(F.col("_toks")) - 1, F.lit(0))
    sl = toked.select(
        "doc_id",
        F.slice(F.col("_toks"), 1, n1).alias("_wp"),
        F.slice(F.col("_toks"), 2, n1).alias("_wc"),
    )
    return sl.select(
        "doc_id", F.explode(F.arrays_zip("_wp", "_wc")).alias("_bg")
    ).select(
        "doc_id",
        F.col("_bg._wp").alias("w_prev"),
        F.col("_bg._wc").alias("w"),
    )


def _doc_perplexity(scored: DataFrame) -> DataFrame:
    """Per-doc bigram count, cross-entropy (6 dp) and perplexity 2^H
    (4 dp) from per-bigram ``nll`` terms, summed in DECIMAL(38,12)."""
    h = exact_sum(F.col("nll"), 12) / F.count("*")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(h, 6).alias("cross_entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 4).alias("perplexity"),
    )


@prepared
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity (SURVEY E30).

    Train + score in one DAG: global bigram/unigram counts by
    partial-agg groupBy, per-token conditional probability
    P(w2|w1) = (c(w1,w2)+α) / (c(w1)+α·V) joined back on the bigram
    key (shuffle ∝ corpus tokens, never a cross join), cross-entropy
    as the mean -log2 P with the per-term logs quantized to 9 dp and
    summed in DECIMAL(38,12) so the per-doc reduction is
    order-independent (the repo-wide FP-sum rule), perplexity = 2^H
    rounded to 4 dp (2^H compounds the 9 dp term quantization, so 6 dp
    is not reliably cross-engine-stable but 4 dp is). High-perplexity
    docs are the quality-filter rejects.
    """
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    # bigrams feeds FOUR consumers (uni, bi, vocab, the scored join):
    # persist it. Built shuffle-free from the token array (_doc_bigrams
    # r17 — the former lag-window exchanged and sorted every corpus
    # token just to pair array neighbours).
    bigrams = track_cache(_doc_bigrams(docs))
    uni = bigrams.groupBy(F.col("w_prev").alias("w1")).agg(
        F.count("*").alias("c1")
    )
    bi = bigrams.groupBy(
        F.col("w_prev").alias("w1"), F.col("w").alias("w2")
    ).agg(F.count("*").alias("c12"))
    # Vocabulary size as a broadcast 1-row aggregate, NOT a driver-side
    # .count() action: keeps train+score one job, no mid-plan barrier.
    vocab = (
        bigrams.select("w")
        .union(bigrams.select("w_prev"))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    scored = (
        bigrams.join(
            bi,
            (bigrams["w_prev"] == bi["w1"]) & (bigrams["w"] == bi["w2"]),
        )
        # No broadcast hint: the unigram table is vocabulary-sized
        # (millions of rows on a real corpus) — let AQE pick broadcast
        # when it measures small, shuffle-join when it doesn't.
        .join(uni.withColumnRenamed("w1", "u1"), F.col("w_prev") == F.col("u1"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                -F.log2(
                    (F.col("c12") + LM_ALPHA)
                    / (F.col("c1") + LM_ALPHA * F.col("v"))
                ),
                9,
            ).alias("nll"),
        )
    )
    return _doc_perplexity(scored)


def _lm_perplexity_sql() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, g.idx AS pos, toks[g.idx] AS w
  FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
       unnest(generate_series(1, len(toks))) AS g(idx)
),
bigrams AS (
  SELECT doc_id, w,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w_prev
  FROM tok
  QUALIFY w_prev IS NOT NULL
),
uni AS (SELECT w_prev AS w1, COUNT(*) AS c1 FROM bigrams GROUP BY 1),
bi AS (
  SELECT w_prev AS w1, w AS w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2
),
vocab AS (
  SELECT COUNT(*) AS v FROM (
    SELECT w FROM bigrams UNION SELECT w_prev FROM bigrams
  )
),
scored AS (
  SELECT b.doc_id,
         ROUND(-log2((c12 + {LM_ALPHA!r}) / (c1 + {LM_ALPHA!r} * v)), 9)
           AS nll
  FROM bigrams b
  JOIN bi ON b.w_prev = bi.w1 AND b.w = bi.w2
  JOIN uni ON b.w_prev = uni.w1
  CROSS JOIN vocab
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
         AS cross_entropy_bits,
       ROUND(POW(2.0, CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS DOUBLE)
                      / COUNT(*)), 4) AS perplexity
FROM scored GROUP BY doc_id
"""


REGISTRY["lm_perplexity"] = QuerySpec(q_lm_perplexity, _lm_perplexity_sql())


# --- E50: interpolated Kneser-Ney bigram perplexity -------------------------
# Kneser & Ney 1995 / Chen & Goodman 1999: absolute discounting with a
# CONTINUATION-count backoff — the standard n-gram LM smoothing (what
# KenLM ships), vs E30's add-alpha. The continuation probability
# P_cont(w2) = N1+(·w2) / |bigram types| asks "how many distinct
# histories precede w2", which famously fixes the "San Francisco"
# pathology (high c(francisco) but only one history).
LM_KN_DISCOUNT = 0.75


@prepared
def q_lm_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram perplexity (E50).

    Train + score in one DAG over the same corpus (the E30 contract,
    so every scored bigram has c12 >= 1 > D and no zero-probability
    path exists):

      P(w2|w1) = (c12 - D)/c1 + (D * N1+(w1·)/c1) * (N1+(·w2)/T)

    with D = 0.75, N1+(w1·) = distinct continuations of w1, N1+(·w2)
    = distinct histories of w2, T = distinct bigram types. Everything
    is partial-agg groupBys joined back on the bigram key (shuffle ∝
    corpus tokens); the history stats (c1, N1+(w1·)) ride ONE
    aggregation; no broadcast hints on the vocabulary-sized sides
    (AQE decides — the E49/E30 posture). Per-term -log2 quantized to
    9 dp, DECIMAL(38,12) doc sums (order-independent), perplexity =
    2^H at 4 dp — the E30 rounding ladder exactly.
    """
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    # Shuffle-free bigram builder (r17): see _doc_bigrams.
    bigrams = track_cache(_doc_bigrams(docs))
    hist = bigrams.groupBy(F.col("w_prev").alias("w1")).agg(
        F.count("*").alias("c1"),
        F.countDistinct("w").alias("n_after"),
    )
    bi = bigrams.groupBy(
        F.col("w_prev").alias("w1"), F.col("w").alias("w2")
    ).agg(F.count("*").alias("c12"))
    cont = bigrams.groupBy(F.col("w").alias("w2")).agg(
        F.countDistinct("w_prev").alias("n_before")
    )
    t_row = bi.agg(F.count("*").alias("t"))
    d = F.lit(LM_KN_DISCOUNT)
    p = (
        (F.col("c12").cast("double") - d) / F.col("c1").cast("double")
    ) + (
        (d * F.col("n_after").cast("double") / F.col("c1").cast("double"))
        * (F.col("n_before").cast("double") / F.col("t").cast("double"))
    )
    scored = (
        bigrams.join(
            bi,
            (bigrams["w_prev"] == bi["w1"]) & (bigrams["w"] == bi["w2"]),
        )
        .join(hist.withColumnRenamed("w1", "h1"), F.col("w_prev") == F.col("h1"))
        .join(cont.withColumnRenamed("w2", "k2"), F.col("w") == F.col("k2"))
        .crossJoin(F.broadcast(t_row))
        .select("doc_id", F.round(-F.log2(p), 9).alias("nll"))
    )
    return _doc_perplexity(scored)


def _lm_kn_sql() -> str:
    d = f"{LM_KN_DISCOUNT!r}::DOUBLE"
    return f"""
WITH tok AS (
  SELECT doc_id, g.idx AS pos, toks[g.idx] AS w
  FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
       unnest(generate_series(1, len(toks))) AS g(idx)
),
bigrams AS (
  SELECT doc_id, w,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w_prev
  FROM tok
  QUALIFY w_prev IS NOT NULL
),
hist AS (
  SELECT w_prev AS w1, COUNT(*) AS c1, COUNT(DISTINCT w) AS n_after
  FROM bigrams GROUP BY 1
),
bi AS (
  SELECT w_prev AS w1, w AS w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2
),
cont AS (
  SELECT w AS w2, COUNT(DISTINCT w_prev) AS n_before FROM bigrams GROUP BY 1
),
t_row AS (SELECT COUNT(*) AS t FROM bi),
scored AS (
  SELECT b.doc_id,
         ROUND(-log2(
           ((c12::DOUBLE - {d}) / c1::DOUBLE)
           + (({d} * n_after::DOUBLE / c1::DOUBLE)
              * (n_before::DOUBLE / t::DOUBLE))
         ), 9) AS nll
  FROM bigrams b
  JOIN bi ON b.w_prev = bi.w1 AND b.w = bi.w2
  JOIN hist ON b.w_prev = hist.w1
  JOIN cont ON b.w = cont.w2
  CROSS JOIN t_row
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
         AS cross_entropy_bits,
       ROUND(POW(2.0, CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS DOUBLE)
                      / COUNT(*)), 4) AS perplexity
FROM scored
GROUP BY doc_id
"""


REGISTRY["lm_kn_perplexity"] = QuerySpec(q_lm_kn_perplexity, _lm_kn_sql())


# --- E31: BPE merge-candidate pair counts ---------------------------------
BPE_TOP_PAIRS = 20


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE word-frequency dictionary (word, n): the one corpus-sized
    stage of BPE training. The scan is spread when under-partitioned so
    tokenize+count parallelizes (r15 — the 100x probe measured the
    2-task scan, not the merge loop, as the growth driver; counts are
    order-free so values are untouched)."""
    from gentropy_spark.functions.text import tokens
    from gentropy_spark.operators.dedup import spread_if_narrow

    docs = spread_if_narrow(read_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE pair statistics (Sennrich et al. 2016, public
    method) — the inner loop of byte-pair-encoding tokenizer training.

    Classic BPE trains on the WORD-FREQUENCY dictionary, not the raw
    corpus: tokens are aggregated to (word, n) first (shuffle ∝
    distinct vocabulary, not corpus size — the 100 TB-critical
    property), then each distinct word contributes its adjacent
    character pairs weighted by its frequency. The top-ranked pair is
    the next merge; the full ranked table is the merge-candidate
    queue. One explode over distinct words + one partial-agg groupBy;
    the ranking window runs over the (tiny) distinct-pair set.
    """
    from pyspark.sql import Window

    word_freq = _word_freq(spark, sf_dir)
    # expr form: substring with a DYNAMIC start position isn't
    # expressible through the Column API's substring (literal-only).
    pairs = word_freq.select(
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    ).filter(F.length("pair") == 2)
    counts = pairs.groupBy("pair").agg(F.sum("n").alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select(
            "pair", F.col("pair_count").cast("bigint").alias("pair_count"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


BPE_PAIRS_SQL = f"""
WITH words AS (
  SELECT unnest({TOKS_SQL}) AS word FROM documents
),
word_freq AS (SELECT word, COUNT(*) AS n FROM words GROUP BY 1),
pairs AS (
  SELECT n, p.pair
  FROM word_freq,
       unnest(list_transform(generate_series(1, len(word) - 1),
                             i -> word[i:i+1])) AS p(pair)
  WHERE len(word) >= 2
),
counts AS (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1
)
SELECT pair, pair_count,
       CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT)
         AS rank
FROM counts
QUALIFY rank <= {BPE_TOP_PAIRS}
"""


REGISTRY["bpe_pair_counts"] = QuerySpec(q_bpe_pair_counts, BPE_PAIRS_SQL)


# --- E32: DSIR importance weighting ---------------------------------------
DSIR_BUCKETS = 512
DSIR_ALPHA = 0.5
# Reuse the corpus-wide "benchmark" convention: every 10th doc plays
# the target distribution (the same split decontaminate uses).
_DSIR_TARGET_PRED = "doc_id % 10 = 0"


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR — Xie et al.
    2023, arXiv:2302.03169, public method) over hashed unigram
    features.

    Two multinomial feature distributions are estimated from the SAME
    hashed-feature table: the TARGET (benchmark-like docs) and the RAW
    corpus. Each document's log importance weight is
    Σ_tokens [log p_target(bucket) − log p_raw(bucket)] with add-α
    smoothing; high-weight documents are the ones to up-sample when
    building a benchmark-shaped training mix. Buckets come from an
    md5-derived hash (ascii arithmetic — cross-engine deterministic,
    unlike engine hash() builtins); the per-doc reduction quantizes
    the per-token log ratio to 9 dp and sums in DECIMAL(38,12) (the
    repo-wide order-independent FP-sum rule). Feature counts are
    partial-agg groupBys joined back on the bucket key: shuffle ∝
    corpus tokens; the two distribution tables are bucket-sized
    (constant) and broadcast by AQE.
    """
    from gentropy_spark.functions.text import tokens
    from gentropy_spark.session import track_cache

    B = DSIR_BUCKETS
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.expr(_DSIR_TARGET_PRED).alias("is_target"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    h = F.md5(F.col("token"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % B
    feat = track_cache(
        tok.select("doc_id", "is_target", bucket.alias("bucket"))
    )
    raw_counts = feat.groupBy("bucket").agg(F.count("*").alias("c_raw"))
    tgt_counts = (
        feat.filter("is_target").groupBy("bucket").agg(
            F.count("*").alias("c_tgt")
        )
    )
    raw_total = raw_counts.agg(F.sum("c_raw").alias("t_raw"))
    tgt_total = tgt_counts.agg(F.sum("c_tgt").alias("t_tgt"))
    dist = (
        raw_counts.join(tgt_counts, on="bucket", how="left")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + DSIR_ALPHA)
                    / (F.col("t_tgt") + DSIR_ALPHA * B)
                )
                - F.log(
                    (F.col("c_raw") + DSIR_ALPHA)
                    / (F.col("t_raw") + DSIR_ALPHA * B)
                ),
                9,
            ).alias("log_ratio"),
        )
    )
    return (
        feat.join(dist, on="bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feat"),
            F.round(exact_sum(F.col("log_ratio"), 12), 6).alias("log_importance"),
        )
    )


DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, doc_id % 10 = 0 AS is_target,
         unnest({TOKS_SQL}) AS token
  FROM documents
),
feat AS (
  SELECT doc_id, is_target,
         (ascii(substr(md5(token), 1, 1)) * 256
          + ascii(substr(md5(token), 2, 1))) % {DSIR_BUCKETS} AS bucket
  FROM tok
),
raw_counts AS (SELECT bucket, COUNT(*) AS c_raw FROM feat GROUP BY 1),
tgt_counts AS (SELECT bucket, COUNT(*) AS c_tgt FROM feat
               WHERE is_target GROUP BY 1),
totals AS (
  SELECT (SELECT SUM(c_raw) FROM raw_counts) AS t_raw,
         (SELECT SUM(c_tgt) FROM tgt_counts) AS t_tgt
),
dist AS (
  SELECT r.bucket,
         ROUND(LN((COALESCE(t.c_tgt, 0) + {DSIR_ALPHA})
                  / (tt.t_tgt + {DSIR_ALPHA} * {DSIR_BUCKETS}))
               - LN((r.c_raw + {DSIR_ALPHA})
                    / (tt.t_raw + {DSIR_ALPHA} * {DSIR_BUCKETS})), 9)
           AS log_ratio
  FROM raw_counts r
  LEFT JOIN tgt_counts t USING (bucket)
  CROSS JOIN totals tt
)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feat,
       ROUND(CAST(SUM(CAST(d.log_ratio AS DECIMAL(38,12))) AS DOUBLE), 6)
         AS log_importance
FROM feat f JOIN dist d USING (bucket)
GROUP BY f.doc_id
"""


REGISTRY["dsir_importance"] = QuerySpec(q_dsir_importance, DSIR_SQL)


# --- E33: exact duplicated-substring detection ----------------------------
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better", public method) finds substrings of >= N tokens that occur
# more than once in the corpus via a suffix array. A suffix array is a
# single-machine structure; the distributed equivalent is positional
# K-token window digests: every window occurrence hashed, occurrence
# counts aggregated, windows with count > 1 marked duplicated. Shuffle
# is proportional to corpus token count (no pair materialisation), the
# same asymptotics as MinHash — the 100 TB-safe formulation.
SUBSTR_K = 8  # duplicated-window length in tokens


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-duplicated-window profile (SURVEY E33).

    Emits, per document, the number of K-token windows, how many of
    them occur more than once corpus-wide (including elsewhere in the
    same document), and the duplicated fraction — the per-doc signal
    the Lee-et-al pipeline uses to cut duplicated spans.

    Window digests are built per-row with slice/array_join inside one
    isolated projection (token array materialised first — inlining the
    tokenizer re-runs the regex per gram), so construction is
    embarrassingly parallel: the only shuffles are the digest-count
    aggregation and the per-doc rollup.
    """
    docs = read_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    # Spark's sequence(1, 0) generates a DESCENDING range, so short
    # documents must map to an empty window list explicitly.
    grams = F.when(
        F.size(toks) >= SUBSTR_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (SUBSTR_K - 1)),
            lambda i: F.md5(
                F.array_join(F.slice(toks, i, SUBSTR_K), " ")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = toked.select("doc_id", F.explode(grams).alias("h"))
    cnt = sh.groupBy("h").agg(F.count("*").alias("n_occ"))
    per_doc = (
        sh.join(cnt, on="h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nw"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("nd"),
        )
    )
    n_win = F.coalesce(F.col("nw"), F.lit(0)).cast("int")
    n_dup = F.coalesce(F.col("nd"), F.lit(0)).cast("int")
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            n_win.alias("n_windows"),
            n_dup.alias("n_dup_windows"),
            F.round(
                n_dup.cast("double") / F.greatest(n_win, F.lit(1)), 6
            ).alias("dup_fraction"),
        )
    )


DEDUP_SUBSTRING_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, GREATEST(len(t) - {SUBSTR_K - 1}, 0)),
           i -> md5(array_to_string(list_slice(t, i, i + {SUBSTR_K - 1}), ' '))
         )) AS h
  FROM toks
),
cnt AS (SELECT h, COUNT(*) AS n_occ FROM sh GROUP BY h),
per_doc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS INT) AS nw,
         CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS INT) AS nd
  FROM sh s JOIN cnt c USING (h) GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(p.nw, 0) AS n_windows,
       COALESCE(p.nd, 0) AS n_dup_windows,
       ROUND(COALESCE(p.nd, 0) / GREATEST(COALESCE(p.nw, 0), 1), 6)
         AS dup_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

REGISTRY["dedup_substring"] = QuerySpec(q_dedup_substring, DEDUP_SUBSTRING_SQL)


# --- E34: Gopher-style document quality rules -----------------------------
# Rule battery from Rae et al. 2021 ("Scaling Language Models: ...
# Gopher", public method, Table A1): word-count bounds, mean-word-length
# band, symbol-to-word ratio, alphabetic-word fraction, required-
# stopword presence. Every signal is a JVM Column expression over two
# materialised token arrays — one narrow projection, no shuffle at all
# (the whole filter is map-side at any scale). Ratios are rounded to
# 6 dp BEFORE thresholding so both engines make identical keep
# decisions (repo parity convention).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# The published rule is ">= 2 of the 8"; the synthetic corpus vocabulary
# contains only 'the' from that list, so the registry query tunes the
# threshold to 1 (thresholds are corpus-tuned in the paper as well) to
# keep the decision discriminative rather than vacuously false.
GOPHER_MIN_STOP_HITS = 1


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags + overall keep decision (E34)."""
    docs = read_table(spark, sf_dir, "documents")
    # Token arrays materialised once; inlining the splits into every
    # consumer re-runs the regex per reference (measured 30x in E2).
    base = docs.select(
        "doc_id",
        F.col("text"),
        F.filter(
            F.split(F.col("text"), "\\s+"), lambda x: x != F.lit("")
        ).alias("_ws"),
        tokens(F.col("text")).alias("_toks"),
    )
    ws = F.col("_ws")
    n_words = F.size(ws)
    denom = F.greatest(n_words, F.lit(1))
    sum_len = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_alpha_words = F.size(F.filter(ws, lambda x: x.rlike("[a-zA-Z]")))
    n_hash = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), "#", "")
    )
    n_ellipsis = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("\\.\\.\\."), 0)
    )
    n_stop = sum(
        F.array_contains(F.col("_toks"), s).cast("int")
        for s in GOPHER_STOPWORDS
    )
    scored = base.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        F.round(sum_len.cast("double") / denom, 6).alias("mean_word_len"),
        F.round((n_hash + n_ellipsis).cast("double") / denom, 6).alias(
            "symbol_ratio"
        ),
        F.round(n_alpha_words.cast("double") / denom, 6).alias(
            "alpha_word_ratio"
        ),
        n_stop.cast("int").alias("n_stop_hits"),
    )
    flag_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    flag_mean = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_LEN) & (
        F.col("mean_word_len") <= GOPHER_MAX_MEAN_LEN
    )
    flag_symbol = F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO
    flag_alpha = F.col("alpha_word_ratio") >= GOPHER_MIN_ALPHA_RATIO
    flag_stop = F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS
    return scored.select(
        "*",
        flag_words.alias("flag_word_count"),
        flag_mean.alias("flag_mean_len"),
        flag_symbol.alias("flag_symbol"),
        flag_alpha.alias("flag_alpha_words"),
        flag_stop.alias("flag_stopwords"),
        (flag_words & flag_mean & flag_symbol & flag_alpha & flag_stop).alias(
            "keep"
        ),
    )


_GOPHER_STOP_SQL = " + ".join(
    f"CAST(list_contains(toks, '{s}') AS INT)" for s in GOPHER_STOPWORDS
)

QUALITY_GOPHER_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws,
         {TOKS_SQL} AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
    CAST(LEN(ws) AS INT) AS n_words,
    ROUND(CAST(COALESCE(list_sum(list_transform(ws, x -> LENGTH(x))), 0)
               AS DOUBLE)
          / GREATEST(LEN(ws), 1), 6) AS mean_word_len,
    ROUND(CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
               + LEN(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
          / GREATEST(LEN(ws), 1), 6) AS symbol_ratio,
    ROUND(CAST(LEN(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
               AS DOUBLE) / GREATEST(LEN(ws), 1), 6) AS alpha_word_ratio,
    CAST({_GOPHER_STOP_SQL} AS INT) AS n_stop_hits
  FROM base
)
SELECT *,
  n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
    AS flag_word_count,
  mean_word_len >= {GOPHER_MIN_MEAN_LEN}::DOUBLE
    AND mean_word_len <= {GOPHER_MAX_MEAN_LEN}::DOUBLE AS flag_mean_len,
  symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}::DOUBLE AS flag_symbol,
  alpha_word_ratio >= {GOPHER_MIN_ALPHA_RATIO}::DOUBLE AS flag_alpha_words,
  n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS flag_stopwords,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
    AND (mean_word_len >= {GOPHER_MIN_MEAN_LEN}::DOUBLE
         AND mean_word_len <= {GOPHER_MAX_MEAN_LEN}::DOUBLE)
    AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}::DOUBLE
    AND alpha_word_ratio >= {GOPHER_MIN_ALPHA_RATIO}::DOUBLE
    AND n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS keep
FROM scored
"""

REGISTRY["quality_gopher"] = QuerySpec(q_quality_gopher, QUALITY_GOPHER_SQL)


# --- E35: per-document token entropy --------------------------------------
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) + diversity stats
    (E35) — the standard low-diversity / generated-boilerplate signal.

    H = ln(n) - SUM(c*ln(c))/n over per-doc token counts c: computed
    from two sums so there is no per-row division inside the
    aggregation. Two shuffles, both on high-cardinality keys
    ((doc_id, tok) then doc_id) — scale-linear.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    counts = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c"))).alias("s"),
        F.max("c").alias("max_c"),
        F.count("*").alias("n_distinct"),
    )
    per_doc = agg.select(
        "doc_id",
        F.col("n").cast("int").alias("n_tokens"),
        F.col("n_distinct").cast("int").alias("n_distinct"),
        F.round(
            F.log(F.col("n").cast("double")) - F.col("s") / F.col("n"), 6
        ).alias("entropy"),
        F.round(F.col("max_c").cast("double") / F.col("n"), 6).alias(
            "max_tok_ratio"
        ),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
            F.coalesce("max_tok_ratio", F.lit(0.0)).alias("max_tok_ratio"),
        )
    )


DOC_ENTROPY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
),
counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(c AS DOUBLE) * LN(c)) AS s,
         MAX(c) AS max_c,
         CAST(COUNT(*) AS INT) AS n_distinct
  FROM counts GROUP BY doc_id
),
per_doc AS (
  SELECT doc_id,
         CAST(n AS INT) AS n_tokens,
         n_distinct,
         ROUND(LN(CAST(n AS DOUBLE)) - s / n, 6) AS entropy,
         ROUND(CAST(max_c AS DOUBLE) / n, 6) AS max_tok_ratio
  FROM agg
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_distinct, 0) AS n_distinct,
       COALESCE(p.entropy, 0.0::DOUBLE) AS entropy,
       COALESCE(p.max_tok_ratio, 0.0::DOUBLE) AS max_tok_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

REGISTRY["doc_entropy"] = QuerySpec(q_doc_entropy, DOC_ENTROPY_SQL)


# --- E36: MinHash sketch-accuracy calibration -----------------------------
# Evaluation harness for the E3 sketch: per LSH candidate pair, the
# signature-estimated Jaccard (fraction of agreeing minima — the
# textbook unbiased estimator) against the exact shingle Jaccard, with
# the absolute error. This is the query an operator of a 100 TB dedup
# pipeline runs to pick (num_hashes, bands) before committing a full
# sweep; candidate generation reuses the banded-LSH shape, so cost is
# bounded by the same candidate set as E3 (no all-pairs).
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated-vs-exact Jaccard per MinHash LSH candidate pair (E36)."""
    from gentropy_spark.functions.xhash import band_bucket, poly_hash, seeded
    from gentropy_spark.operators.dedup import shingles
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    coeffs = seed_coeffs(MINHASH_NUM_HASHES)
    # Shingle index feeds the signature agg AND the exact-verify joins.
    sh = track_cache(shingles(docs, n=SHINGLE_N))
    hashed = sh.withColumn("h", poly_hash("shingle"))
    # Parsed-SQL seeded minima (r17): see minhash_lsh_pairs.
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"min((h * {a} + {c}) % {M1}) AS m{s}")
            for s, (a, c) in enumerate(coeffs)
        ]
    )
    sig = track_cache(sig)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        band_bucket(
                            [
                                F.col(f"m{band * MINHASH_ROWS_PER_BAND + r}")
                                for r in range(MINHASH_ROWS_PER_BAND)
                            ]
                        ).alias("bucket"),
                    )
                    for band in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )
    # Estimator: fraction of agreeing signature components.
    siga = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{s}").alias(f"a{s}") for s in range(MINHASH_NUM_HASHES)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{s}").alias(f"b{s}") for s in range(MINHASH_NUM_HASHES)],
    )
    n_match = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
        for s in range(MINHASH_NUM_HASHES)
    )
    est = (
        cand.join(siga, on="id_a")
        .join(sigb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(n_match / F.lit(float(MINHASH_NUM_HASHES)), 6).alias(
                "est_jaccard"
            ),
        )
    )
    # Exact Jaccard, LEFT-joined: a pure-hash-collision candidate with
    # zero shared shingles must surface as exact 0.0, not vanish.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), on="id_a")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            on=["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        est.join(inter, on=["id_a", "id_b"], how="left")
        .join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b")),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(
                F.coalesce(
                    F.col("n_common")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                    F.lit(0.0),
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return exact.select(
        "id_a",
        "id_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias(
            "abs_err"
        ),
    )


_CAL_MATCHES = " + ".join(
    f"(CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END)"
    for s in range(MINHASH_NUM_HASHES)
)

MINHASH_CALIBRATION_SQL = f"""
WITH {_SHINGLE_CTE},
hashed AS (SELECT doc_id, {poly_hash_sql('shingle')} AS h FROM sh),
sig AS (
  SELECT doc_id,
         {_MH_MINS}
  FROM hashed GROUP BY doc_id
),
banded AS (
{_MH_BANDS}
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         ROUND(({_CAL_MATCHES}) / {float(MINHASH_NUM_HASHES)}, 6)
           AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
joined AS (
  SELECT e.id_a, e.id_b, e.est_jaccard,
         ROUND(COALESCE(
           i.n_common / (sa.set_size + sb.set_size - i.n_common),
           0.0::DOUBLE), 6) AS jaccard
  FROM est e
  LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
  JOIN sizes sa ON sa.doc_id = e.id_a
  JOIN sizes sb ON sb.doc_id = e.id_b
)
SELECT id_a, id_b, est_jaccard, jaccard,
       ROUND(ABS(est_jaccard - jaccard), 6) AS abs_err
FROM joined
"""

REGISTRY["minhash_calibration"] = QuerySpec(
    q_minhash_calibration, MINHASH_CALIBRATION_SQL
)


# --- E37: count-min-sketch heavy hitters ----------------------------------
# Cormode & Muthukrishnan 2005 (public method). The sketch is a D x W
# counter grid; every token increments one counter per row (seeded
# affine rehash of the shared polynomial base hash); a token's estimate
# is the MIN over its D counters — always >= the true count, inflated
# only by collisions. The grid is tiny and mergeable (sum per cell), so
# at 100 TB it aggregates map-side: shuffle is D x W cells per
# partition, CONSTANT in corpus size — the whole point of sketching.
# The query reports estimate-vs-truth per token; W is deliberately
# smaller than the vocabulary so the collision inflation is exercised.
CMS_D = 4
CMS_W = 16


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch estimates vs exact token counts (E37)."""
    from gentropy_spark.functions.xhash import poly_hash, seeded

    coeffs = seed_coeffs(CMS_D)
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    # Exact counts double as the sketch feed: incrementing cell (d, b)
    # once per occurrence == adding the token's total once — aggregate
    # first so the fan-out below is vocab-sized, not corpus-sized.
    tc = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("true_n"))
        .withColumn("h", poly_hash("tok"))
    )
    placed = tc.select(
        "tok",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (seeded(F.col("h"), a, c) % CMS_W).alias("bucket"),
                    )
                    for d, (a, c) in enumerate(coeffs)
                ]
            )
        ).alias("db"),
    ).select("tok", "true_n", "db.d", "db.bucket")
    counters = placed.groupBy("d", "bucket").agg(
        F.sum("true_n").alias("cell")
    )
    return (
        placed.join(counters, on=["d", "bucket"])
        .groupBy("tok", "true_n")
        .agg(F.min("cell").alias("est"))
        .select(
            "tok",
            F.col("true_n").cast("long").alias("true_n"),
            F.col("est").cast("long").alias("est_n"),
            (F.col("est") - F.col("true_n")).cast("long").alias("overcount"),
        )
    )


_CMS_PLACED = "\n  UNION ALL\n".join(
    f"  SELECT tok, true_n, {d} AS d, ({seeded_sql('h', a, c)}) % {CMS_W} AS bucket FROM tc"
    for d, (a, c) in enumerate(seed_coeffs(CMS_D))
)

CMS_SQL = f"""
WITH tok AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents),
cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_n FROM tok GROUP BY tok),
tc AS (SELECT tok, true_n, {poly_hash_sql('tok')} AS h FROM cnt),
placed AS (
{_CMS_PLACED}
),
counters AS (
  SELECT d, bucket, CAST(SUM(true_n) AS BIGINT) AS cell
  FROM placed GROUP BY 1, 2
)
SELECT p.tok, p.true_n,
       CAST(MIN(c.cell) AS BIGINT) AS est_n,
       CAST(MIN(c.cell) - p.true_n AS BIGINT) AS overcount
FROM placed p JOIN counters c ON c.d = p.d AND c.bucket = p.bucket
GROUP BY p.tok, p.true_n
"""

REGISTRY["cms_heavy_hitters"] = QuerySpec(q_cms_heavy_hitters, CMS_SQL)


# --- E38: Zipf law fit over the corpus vocabulary -------------------------
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares Zipf fit: slope of ln(freq) on ln(rank) (E38).

    The slope of the log-log rank/frequency line (~-1 for natural
    language) is the standard corpus-health diagnostic for generated
    or templated text. Ranks come from one vocab-bounded global sort;
    the regression reduces via decimal-quantized sums (ln values
    rounded to 6 dp first, per the repo's cross-engine ln convention;
    addends rounded to 12 dp and summed exactly in DECIMAL so the
    reduction is order-independent) — the same scale posture as E30.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = vocab.select(
        "c", F.row_number().over(w).alias("rank")
    ).select(
        F.round(F.log(F.col("rank").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6).alias("y"),
        F.col("c"),
    )
    agg = ranked.agg(
        F.count("*").alias("nv"),
        F.sum("c").alias("nt"),
        exact_sum(F.round(F.col("x"), 12), 12).alias("sx"),
        exact_sum(F.round(F.col("y"), 12), 12).alias("sy"),
        exact_sum(F.round(F.col("x") * F.col("x"), 12), 12).alias("sxx"),
        exact_sum(F.round(F.col("y") * F.col("y"), 12), 12).alias("syy"),
        exact_sum(F.round(F.col("x") * F.col("y"), 12), 12).alias("sxy"),
    )
    n = F.col("nv").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / F.nullif(varx, F.lit(0.0))
    return agg.select(
        F.col("nv").cast("int").alias("n_vocab"),
        F.col("nt").cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / n, 6
        ).alias("zipf_intercept"),
        F.round(
            (cov * cov) / F.nullif(varx * vary, F.lit(0.0)), 6
        ).alias("r2"),
    )


ZIPF_SQL = f"""
WITH tok AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents),
vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
ranked AS (
  SELECT ROUND(LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE)), 6) AS x,
         ROUND(LN(CAST(c AS DOUBLE)), 6) AS y,
         c
  FROM vocab
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nv,
         CAST(SUM(c) AS BIGINT) AS nt,
         CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM ranked
)
SELECT CAST(nv AS INT) AS n_vocab,
       nt AS n_tokens,
       ROUND((nv * sxy - sx * sy) / NULLIF(nv * sxx - sx * sx, 0.0::DOUBLE), 6)
         AS zipf_slope,
       ROUND((sy - ((nv * sxy - sx * sy) / NULLIF(nv * sxx - sx * sx, 0.0::DOUBLE)) * sx) / nv, 6)
         AS zipf_intercept,
       ROUND(((nv * sxy - sx * sy) * (nv * sxy - sx * sy))
             / NULLIF((nv * sxx - sx * sx) * (nv * syy - sy * sy), 0.0::DOUBLE), 6)
         AS r2
FROM agg
"""

REGISTRY["zipf_fit"] = QuerySpec(q_zipf_fit, ZIPF_SQL)


# --- E39: bigram PMI collocations -----------------------------------------
# Church & Hanks 1990 pointwise mutual information over adjacent token
# pairs — the standard collocation / multi-word-expression miner a
# tokenizer-training pipeline runs next to BPE (E31). Marginals are the
# bigram table's own row/column sums, so the whole query is three
# grouped aggregations on high-cardinality keys (pair, left word,
# right word) — shuffle ∝ distinct bigrams, never corpus size.
PMI_MIN_COUNT = 5


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked adjacent-token pairs with count >= PMI_MIN_COUNT."""
    docs = read_table(spark, sf_dir, "documents")
    toked = docs.select(tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i.cast("int")).alias("w1"),
                F.element_at(toks, (i + 1).cast("int")).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = toked.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    from gentropy_spark.session import track_cache

    c12 = track_cache(bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    left = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = c12.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = c12.agg(F.sum("c12").alias("n"))
    return (
        c12.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(left, on="w1")
        .join(right, on="w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("n")
                    # marginals cast BEFORE the product: BIGINT*BIGINT
                    # overflows (ANSI throw) past ~3e9 occurrences —
                    # reachable at the corpus scale this targets
                    / (
                        F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


BIGRAM_PMI_SQL = f"""
WITH toks AS (SELECT {TOKS_SQL} AS t FROM documents),
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, GREATEST(len(t) - 1, 0))) AS u(i)
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
lft AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
rgt AS (SELECT w2, SUM(c12) AS c2 FROM c12 GROUP BY 1),
tot AS (SELECT SUM(c12) AS n FROM c12)
SELECT c.w1, c.w2, CAST(c.c12 AS BIGINT) AS n_pair,
       ROUND(LN(CAST(c.c12 AS DOUBLE) * t.n
                / (CAST(l.c1 AS DOUBLE) * CAST(r.c2 AS DOUBLE))), 6) AS pmi
FROM c12 c
JOIN lft l USING (w1)
JOIN rgt r USING (w2)
CROSS JOIN tot t
WHERE c.c12 >= {PMI_MIN_COUNT}
"""

REGISTRY["bigram_pmi"] = QuerySpec(q_bigram_pmi, BIGRAM_PMI_SQL)


# --- E40: ANN retrieval-quality evaluation --------------------------------
# The eval harness an ANN deployment runs before trading brute force
# for an index: recall@k of each approximate method (E6 LSH buckets,
# E6b IVF probes) against the E5 brute-force ground truth. Composes
# the three registered queries — truth is one exact top-k per query,
# so the whole evaluation is two small joins on (query_id, corpus_id).
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of LSH-, IVF-, PQ-, IVFPQ- and PCA-banded
    ANN vs brute force (E40; PQ leg r14, composed IVF-PQ leg r16,
    PCA-prefilter leg r17 — the eval covers every ANN path the repo
    ships)."""
    truth = q_ann_cosine_topk(spark, sf_dir).select("query_id", "corpus_id")
    retrieved = (
        q_ann_lsh(spark, sf_dir)
        .select(F.lit("lsh").alias("method"), "query_id", "corpus_id")
        .unionByName(
            q_ann_ivf(spark, sf_dir).select(
                F.lit("ivf").alias("method"), "query_id", "corpus_id"
            )
        )
        .unionByName(
            q_ann_pq(spark, sf_dir).select(
                F.lit("pq").alias("method"), "query_id", "corpus_id"
            )
        )
        .unionByName(
            q_ann_ivfpq(spark, sf_dir).select(
                F.lit("ivfpq").alias("method"), "query_id", "corpus_id"
            )
        )
        .unionByName(
            q_ann_pca_topk(spark, sf_dir).select(
                F.lit("pca").alias("method"), "query_id", "corpus_id"
            )
        )
    )
    hits = (
        retrieved.join(
            truth.withColumn("_hit", F.lit(1)),
            on=["query_id", "corpus_id"],
            how="left",
        )
        .groupBy("method", "query_id")
        .agg(
            F.count("*").alias("n_retrieved"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    # Base = every (method, query) cell: a query whose LSH bucket is
    # empty must surface as recall 0, not vanish.
    methods = spark.createDataFrame(
        [("lsh",), ("ivf",), ("pq",), ("ivfpq",), ("pca",)], ["method"]
    )
    base = truth.select("query_id").distinct().crossJoin(F.broadcast(methods))
    return (
        base.join(hits, on=["method", "query_id"], how="left")
        .select(
            "method",
            "query_id",
            F.coalesce(F.col("n_retrieved"), F.lit(0))
            .cast("int")
            .alias("n_retrieved"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(5.0), 6
            ).alias("recall_at_5"),
        )
    )


ANN_RECALL_SQL = f"""
WITH truth AS ({ANN_TOPK_SQL}),
lsh AS ({ANN_LSH_SQL}),
ivf AS ({ANN_IVF_SQL}),
pq AS ({_pq_sql()}),
ivfpq AS ({_ivfpq_sql()}),
pcab AS ({ANN_PCA_SQL}),
retrieved AS (
  SELECT 'lsh' AS method, query_id, corpus_id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_id, corpus_id FROM ivf
  UNION ALL
  SELECT 'pq' AS method, query_id, corpus_id FROM pq
  UNION ALL
  SELECT 'ivfpq' AS method, query_id, corpus_id FROM ivfpq
  UNION ALL
  SELECT 'pca' AS method, query_id, corpus_id FROM pcab
),
hits AS (
  SELECT r.method, r.query_id,
         COUNT(*) AS n_retrieved,
         SUM(CASE WHEN t.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM retrieved r
  LEFT JOIN truth t
    ON t.query_id = r.query_id AND t.corpus_id = r.corpus_id
  GROUP BY 1, 2
),
base AS (
  SELECT m.method, q.query_id
  FROM (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'
        UNION ALL SELECT 'pq' UNION ALL SELECT 'ivfpq'
        UNION ALL SELECT 'pca') m
  CROSS JOIN (SELECT DISTINCT query_id FROM truth) q
)
SELECT b.method, b.query_id,
       CAST(COALESCE(h.n_retrieved, 0) AS INT) AS n_retrieved,
       CAST(COALESCE(h.n_hit, 0) AS INT) AS n_hit,
       ROUND(COALESCE(h.n_hit, 0) / 5.0, 6) AS recall_at_5
FROM base b
LEFT JOIN hits h ON h.method = b.method AND h.query_id = b.query_id
"""

REGISTRY["ann_recall_eval"] = QuerySpec(q_ann_recall_eval, ANN_RECALL_SQL)


# --- E41: PageRank over the duplicate-pair graph --------------------------
# Brin & Page 1998 (public method), fixed-iteration power method over
# the undirected MinHash near-dup graph — centrality as a
# canonical-document policy (densest member of a dup family) next to
# the min-label policy of E15. Deterministic and oracle-exact: ranks
# are quantized to 12 dp each iteration and neighbor contributions
# reduce through DECIMAL sums, so the synchronous update is
# order-independent in both engines; the oracle unrolls the same
# ITERS updates as chained CTEs. Per iteration: one equi-join on the
# edge list + one groupBy — shuffle ∝ edges, the distributed PageRank
# shape.
PR_ITERS = 5
PR_DAMP = 0.85
# Teleport term as ONE shared double literal: python (1.0 - 0.85) is
# 0.15000000000000002 while DuckDB's (1.0 - 0.85) is DECIMAL-exact
# 0.15 — a 1-ulp divergence that can split the 12dp rounding.
PR_TELEPORT = 0.15


def q_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration weighted PageRank over MinHash dup pairs (E41).

    Edges are weighted by the verified Jaccard similarity (an
    unweighted walk is degenerate on this graph: dup families are
    uniform cliques, so every node gets 1/n); a node's outflow is
    split proportionally to edge weight, so stronger duplicates
    concentrate rank on the family's most-similar member.
    """
    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b", "jaccard")
    from gentropy_spark.session import track_local_checkpoint

    # localCheckpoint, not cache (r17): a cache node keeps the MinHash
    # lineage in every iteration's logical plan, so each of the 5
    # power iterations re-optimised the banded-signature trees (see
    # edge_min_labels). The lazy checkpoint truncates to an RDD leaf;
    # storage is swept by release_caches() like a cache.
    edges = track_local_checkpoint(
        pairs.unionByName(
            pairs.select(
                F.col("id_b").alias("id_a"),
                F.col("id_a").alias("id_b"),
                "jaccard",
            )
        ).distinct()
    )
    deg = edges.groupBy("id_a").agg(
        F.count("*").alias("deg"),
        # weights carry 6 dp, so the strength sum is exact in
        # DECIMAL(38,6) — order-independent
        exact_sum(F.col("jaccard")).alias("wsum"),
    )
    nodes = deg.select(F.col("id_a").alias("node"), "deg", "wsum")
    n_nodes = nodes.agg(F.count("*").alias("n"))
    pr = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node",
        "deg",
        "wsum",
        "n",
        F.round(F.lit(1.0) / F.col("n"), 12).alias("pr"),
    )
    for _ in range(PR_ITERS):
        # Truncate lineage per iteration (the dedup-fixpoint pattern,
        # operators/dedup.py): pr feeds the next iteration TWICE, so
        # an untruncated DAG doubles per round — 2^ITERS subplans.
        pr = track_local_checkpoint(pr)
        contrib = (
            pr.join(edges, on=pr["node"] == edges["id_a"])
            .select(
                F.col("id_b").alias("node"),
                F.round(
                    F.col("pr") * F.col("jaccard") / F.col("wsum"), 12
                ).alias("c"),
            )
            .groupBy("node")
            .agg(exact_sum(F.col("c"), 12).alias("inflow"))
        )
        pr = (
            pr.select("node", "deg", "wsum", "n")
            .join(contrib, on="node", how="left")
            .select(
                "node",
                "deg",
                "wsum",
                "n",
                F.round(
                    F.lit(PR_TELEPORT) / F.col("n")
                    + F.lit(PR_DAMP) * F.coalesce("inflow", F.lit(0.0)),
                    12,
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("int").alias("degree"),
        F.round(F.col("wsum"), 6).alias("strength"),
        F.round(F.col("pr"), 6).alias("pagerank"),
    )


def _pagerank_sql() -> str:
    # MATERIALIZED is load-bearing: pr{{i}} references pr{{i-1}} twice
    # (rank carrier + contribution scan), so DuckDB's default CTE
    # inlining would expand 2^ITERS copies of the MinHash subplan —
    # measured as a hang even at sf0.001.
    it = """
pr{i} AS MATERIALIZED (
  SELECT p.node, p.deg, p.wsum, p.n,
         ROUND({t}::DOUBLE / p.n + {d} * COALESCE(c.inflow, 0.0::DOUBLE), 12)
           AS pr
  FROM pr{j} p
  LEFT JOIN (
    SELECT e.id_b AS node,
           CAST(SUM(CAST(ROUND(x.pr * e.jaccard / x.wsum, 12)
                         AS DECIMAL(38,12))) AS DOUBLE) AS inflow
    FROM pr{j} x JOIN edges e ON e.id_a = x.node
    GROUP BY 1
  ) c USING (node)
)"""
    iters = ",".join(
        it.format(i=i + 1, j=i, d=PR_DAMP, t=PR_TELEPORT)
        for i in range(PR_ITERS)
    )
    return f"""
WITH mh AS MATERIALIZED (
  SELECT id_a, id_b, jaccard FROM ({MINHASH_SQL}) _mh
),
edges AS (
  SELECT id_a, id_b, jaccard FROM mh
  UNION
  SELECT id_b, id_a, jaccard FROM mh
),
degs AS (
  SELECT id_a AS node, COUNT(*) AS deg,
         CAST(SUM(CAST(jaccard AS DECIMAL(38,6))) AS DOUBLE) AS wsum
  FROM edges GROUP BY 1
),
nn AS (SELECT COUNT(*) AS n FROM degs),
pr0 AS (
  SELECT node, deg, wsum, n, ROUND(1.0 / n, 12) AS pr
  FROM degs CROSS JOIN nn
),{iters}
SELECT node AS doc_id, CAST(deg AS INT) AS degree,
       ROUND(wsum, 6) AS strength,
       ROUND(pr, 6) AS pagerank
FROM pr{PR_ITERS}
"""


REGISTRY["dup_pagerank"] = QuerySpec(q_dup_pagerank, _pagerank_sql())


# --- E42: sliding-window document chunking --------------------------------
# The standard pretraining prep step between curation and packing
# (E17): split each document into fixed-size token windows with
# overlap (stride < size), keeping per-chunk provenance. Pure
# explode-over-sequence — embarrassingly parallel, no shuffle at all;
# at 100 TB this is a map-only stage.
CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunks with provenance (E42)."""
    docs = read_table(spark, sf_dir, "documents")
    # _n is taken per document, below the explode, not per chunk.
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).withColumn("_n", F.size("_toks"))
    n = F.col("_n")
    # Chunk start positions 1, 1+stride, ... — the last window is
    # allowed to be short (the tail chunk) but empty docs emit none.
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(1),
            F.greatest(n - (CHUNK_SIZE - CHUNK_STRIDE), F.lit(1)),
            F.lit(CHUNK_STRIDE),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # Carry the token array THROUGH the explode (no join back): the
    # whole operator stays one narrow map-only pass — tokenization
    # runs once and nothing shuffles.
    chunks = toked.select(
        "doc_id",
        "_toks",
        "_n",
        F.explode(starts).alias("start_tok"),
    ).withColumn(
        # start positions are 1, 1+stride, ... so the index is exact
        # integer arithmetic — no reliance on explode ordinals
        "chunk_idx",
        ((F.col("start_tok") - 1) / CHUNK_STRIDE).cast("int"),
    )
    ntok = F.least(
        F.lit(CHUNK_SIZE), F.col("_n") - F.col("start_tok") + 1
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        ntok.cast("int").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.slice(F.col("_toks"), F.col("start_tok"), ntok), " "
            )
        ).alias("chunk_hash"),
    )


CHUNK_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
starts AS (
  SELECT doc_id, t, LEN(t) AS n,
         unnest(generate_series(
           1,
           GREATEST(LEN(t) - {CHUNK_SIZE - CHUNK_STRIDE}, 1),
           {CHUNK_STRIDE}
         )) AS start_tok
  FROM toks WHERE LEN(t) > 0
)
SELECT doc_id,
       CAST((start_tok - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(start_tok AS INT) AS start_tok,
       CAST(LEAST({CHUNK_SIZE}, n - start_tok + 1) AS INT) AS n_tokens,
       md5(array_to_string(
         list_slice(t, start_tok,
                    start_tok + LEAST({CHUNK_SIZE}, n - start_tok + 1) - 1),
         ' ')) AS chunk_hash
FROM starts
"""

REGISTRY["chunk_documents"] = QuerySpec(q_chunk_documents, CHUNK_SQL)


# --- E43: per-source distribution drift -----------------------------------
# Corpus-governance diagnostic: KL(source ‖ corpus) and Jensen-Shannon
# divergence of each source's unigram distribution against the whole
# corpus, with add-one smoothing over the corpus vocabulary so the KL
# is finite for vocabulary gaps. Everything reduces on (source, tok)
# then (source): two high-cardinality-key shuffles; the per-source and
# corpus totals broadcast. Log terms are quantized to 12 dp and summed
# in DECIMAL so the reduction is order-independent (the E30/E38
# convention).
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL / JS divergence vs the corpus (E43)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    from gentropy_spark.session import track_cache

    sc = track_cache(
        tok.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    )
    corpus = sc.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    vocab = corpus.agg(
        F.count("*").alias("v"), F.sum("c_t").alias("n_corpus")
    )
    src_tot = sc.groupBy("source").agg(F.sum("c_st").alias("n_src"))
    # Dense (source x vocab) grid via cross of the source totals and
    # the vocab (both tiny after aggregation) so zero-count cells get
    # their smoothed probability.
    grid = (
        src_tot.crossJoin(corpus)
        .join(sc, on=["source", "tok"], how="left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "n_src",
            F.coalesce(F.col("c_st"), F.lit(0)).alias("c_st"),
            "c_t",
            "v",
            "n_corpus",
        )
    )
    p = (F.col("c_st") + 1).cast("double") / (F.col("n_src") + F.col("v"))
    q = (F.col("c_t") + 1).cast("double") / (
        F.col("n_corpus") + F.col("v")
    )
    m = (p + q) / 2
    agg = grid.groupBy("source", "n_src").agg(
        exact_sum(F.round(p * F.log(p / q), 12), 12).alias("kl"),
        exact_sum(F.round(p * F.log(p / m), 12), 12).alias("js_p"),
        exact_sum(F.round(q * F.log(q / m), 12), 12).alias("js_q"),
    )
    return agg.select(
        "source",
        F.col("n_src").cast("long").alias("n_tokens"),
        F.round(F.col("kl"), 6).alias("kl_vs_corpus"),
        F.round((F.col("js_p") + F.col("js_q")) / 2, 6).alias(
            "js_divergence"
        ),
    )


SOURCE_DRIFT_SQL = f"""
WITH tok AS (
  SELECT source, unnest({TOKS_SQL}) AS tok FROM documents
),
sc AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
corpus AS (SELECT tok, SUM(c_st) AS c_t FROM sc GROUP BY 1),
vocab AS (SELECT COUNT(*) AS v, SUM(c_t) AS n_corpus FROM corpus),
src_tot AS (SELECT source, SUM(c_st) AS n_src FROM sc GROUP BY 1),
grid AS (
  SELECT st.source, st.n_src,
         COALESCE(s.c_st, 0) AS c_st, c.c_t, vb.v, vb.n_corpus
  FROM src_tot st
  CROSS JOIN corpus c
  LEFT JOIN sc s ON s.source = st.source AND s.tok = c.tok
  CROSS JOIN vocab vb
),
terms AS (
  SELECT source, n_src,
         CAST(c_st + 1 AS DOUBLE) / (n_src + v) AS p,
         CAST(c_t + 1 AS DOUBLE) / (n_corpus + v) AS q
  FROM grid
),
agg AS (
  SELECT source, n_src,
         CAST(SUM(CAST(ROUND(p * LN(p / q), 12) AS DECIMAL(38,12)))
              AS DOUBLE) AS kl,
         CAST(SUM(CAST(ROUND(p * LN(p / ((p + q) / 2)), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS js_p,
         CAST(SUM(CAST(ROUND(q * LN(q / ((p + q) / 2)), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS js_q
  FROM terms GROUP BY 1, 2
)
SELECT source,
       CAST(n_src AS BIGINT) AS n_tokens,
       ROUND(kl, 6) AS kl_vs_corpus,
       ROUND((js_p + js_q) / 2, 6) AS js_divergence
FROM agg
"""

REGISTRY["source_drift"] = QuerySpec(q_source_drift, SOURCE_DRIFT_SQL)


# --- E44: BM25 retrieval top-k ---------------------------------------------
# Okapi BM25 (Robertson & Spark Jones probabilistic relevance): the
# retrieval primitive behind retrieval-based data selection and
# nearest-benchmark decontamination triage. Constants are precomputed
# python doubles interpolated into BOTH engines (never re-derived as
# an expression on one side — the 1.0-0.85 ulp lesson).
BM25_K1 = 1.2
BM25_K1P1 = 2.2  # k1 + 1, precomputed (NOT written as 1.2 + 1 anywhere)
BM25_B = 0.75
BM25_ONE_MINUS_B = 0.25
BM25_TOP_K = 5
BM25_MAX_QUERY_DOCS = 10_000


def _gram_terms(df: DataFrame, id_col: str, alias: str) -> DataFrame:
    """Non-distinct word n-gram terms (one row per OCCURRENCE).

    Same staged-projection gram builder as operators/dedup.shingles —
    tokens materialised once, grams as an array transform — but
    WITHOUT the per-doc array_distinct: BM25 needs the true term
    frequency, not the shingle set.
    """
    from gentropy_spark.functions.text import tokens

    n = SHINGLE_N
    toked = df.select(F.col(id_col), tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(toks, (i + k + 1).cast("int"))
                    for k in range(n)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select(F.col(id_col), F.explode(grams).alias(alias))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval: benchmark docs as queries vs the training
    corpus (SURVEY E44).

    Terms are word 3-gram shingles (the dedup machinery's unit), NOT
    single tokens: the synthetic corpus has a ~31-word vocabulary in
    which every word is a stopword (df > N/2, idf ~ 0), so token-grain
    postings would be a 40M-row join scoring nothing — shingle terms
    have a 27k vocabulary with max df 24/4500 at sf0.1 (measured), a
    227k-row join, and genuinely discriminative idf. This is also the
    retrieval unit that matters for near-duplicate triage and
    retrieval-based decontamination.

    The inverted-index join shape: postings (term -> doc tf) are a
    partial-agg groupBy over ONE corpus scan; the query term set is
    aggregated tiny and BROADCAST into the postings join, so the only
    wide exchange carries rows for terms the queries actually use.
    df is computed on the query-term slice of the postings (semi-join
    first, then count) — at a 100 TB corpus with a bounded query set,
    the df aggregate is query-vocabulary-grain, not corpus-vocabulary-
    grain. Corpus stats (N, avgdl) ride a broadcast 1-row aggregate
    (the lm_perplexity pattern), never a driver-side count.

    Cross-engine exactness: per-term contributions are ROUND(.,6)'d,
    summed as DECIMAL(38,6) (order-free), idf's ln is IEEE-identical,
    and the per-query ranking orders on the rounded score with a
    doc_id tie-break.

    Bounded-queries contract (the cosine_topk guard, measured reason:
    the 100x replication probe): the broadcast query-term set and the
    postings join both scale with |queries| x |query vocab|, so an
    unbounded query side degrades toward all-pairs scoring. The guard
    is LAZY (r14 advisory): a limit-bounded 1-row count of query ids
    rides the stats build side, and a raise_error branch guards the
    avgdl every scored row consumes — so building/explaining the plan
    stays job-free like every other q_* builder, and the bound is
    enforced at execution before any postings work completes. The
    guard subplan is O(BM25_MAX_QUERY_DOCS), not a corpus pass.
    """
    from pyspark.sql import Window

    from gentropy_spark.operators.dedup import spread_if_narrow
    from gentropy_spark.session import track_cache

    docs = read_table(spark, sf_dir, "documents")
    n_q = (
        docs.filter(F.expr(_BENCH_PRED))
        .select("doc_id")
        .limit(BM25_MAX_QUERY_DOCS + 1)
        .agg(F.count("*").alias("_nq"))
    )
    guard_msg = (
        f"bm25_topk is a bounded-query retrieval kernel "
        f"(> {BM25_MAX_QUERY_DOCS} query docs); shard the query set "
        f"or use the dedup/decontaminate pair producers for "
        f"corpus-vs-corpus overlap"
    )
    train = spread_if_narrow(docs.filter(~F.expr(_BENCH_PRED)), "doc_id")
    tf = track_cache(
        _gram_terms(train, "doc_id", "token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dl = track_cache(tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")))
    stats = (
        dl.agg(
            F.count("*").alias("n_train"),
            (
                F.sum("dl").cast("double") / F.count("*").cast("double")
            ).alias("avgdl"),
        )
        .crossJoin(F.broadcast(n_q))
        .select(
            "n_train",
            # F.when short-circuits, so raise_error only fires when the
            # bound is actually exceeded — at execution, not build.
            F.when(
                F.col("_nq") <= F.lit(BM25_MAX_QUERY_DOCS), F.col("avgdl")
            )
            .otherwise(
                F.raise_error(F.lit(guard_msg)).cast("double")
            )
            .alias("avgdl"),
        )
    )
    # Query side: small by contract (the benchmark split) — no spread.
    qterms = (
        _gram_terms(
            docs.filter(F.expr(_BENCH_PRED)).withColumnRenamed(
                "doc_id", "query_id"
            ),
            "query_id",
            "token",
        )
        .distinct()
    )
    qtok = qterms.select("token").distinct()
    # df over the query-term slice only — correct (df counts ALL
    # training docs containing the term) and bounded by |query vocab|.
    tf_q = tf.join(F.broadcast(qtok), on="token")
    df_ = tf_q.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_train") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(BM25_ONE_MINUS_B)
        + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    contrib = F.round((idf * F.col("tf")) * F.lit(BM25_K1P1) / norm, 6)
    scored = (
        tf_q.join(F.broadcast(qterms), on="token")
        .join(df_, on="token")
        .join(dl, on="doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(exact_sum(F.col("c")), 6).alias("bm25")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "bm25", "rank")
    )


BM25_SQL = f"""
WITH toked AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
  WHERE NOT ({_BENCH_PRED})
),
tok AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, GREATEST(len(t) - {SHINGLE_N - 1}, 0)),
           i -> {_SHINGLE_CAT})) AS token
  FROM toked
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT COUNT(*) AS n_train,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
qtoked AS (
  SELECT doc_id AS query_id, {TOKS_SQL} AS t FROM documents
  WHERE {_BENCH_PRED}
),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_transform(
           generate_series(1, GREATEST(len(t) - {SHINGLE_N - 1}, 0)),
           i -> {_SHINGLE_CAT})) AS token
  FROM qtoked
),
qtok AS (SELECT DISTINCT token FROM qterms),
tf_q AS (SELECT tf.* FROM tf JOIN qtok USING (token)),
df AS (SELECT token, COUNT(*) AS df FROM tf_q GROUP BY 1),
contr AS (
  SELECT q.query_id, t.doc_id,
         ROUND((LN(1.0::DOUBLE + (s.n_train - d.df + 0.5::DOUBLE)
                   / (d.df + 0.5::DOUBLE)) * t.tf) * {BM25_K1P1!r}::DOUBLE
               / (t.tf + {BM25_K1!r}::DOUBLE * ({BM25_ONE_MINUS_B!r}::DOUBLE
                  + {BM25_B!r}::DOUBLE
                    * (CAST(l.dl AS DOUBLE) / s.avgdl))), 6) AS c
  FROM tf_q t
  JOIN qterms q USING (token)
  JOIN df d USING (token)
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         ROUND(CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE), 6) AS bm25
  FROM contr GROUP BY 1, 2
)
SELECT query_id, doc_id, bm25,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_K}
"""


REGISTRY["bm25_topk"] = QuerySpec(q_bm25_topk, BM25_SQL)


# --- E45: SemDeDup centroid-cluster pruning --------------------------------
# Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"): cluster embeddings, then prune
# within-cluster semantic duplicates, keeping — among near-dups — the
# examples FARTHEST from the centroid (they carry the most signal).
SEMDEDUP_EPS = 0.3  # within-cluster cosine above this = semantic dup
# Target cluster occupancy: K = max(KMEANS_K, ceil(n / TARGET_OCC)), so
# within-cluster pair work stays ~n * TARGET_OCC / 2 — LINEAR in the
# corpus — instead of quadratic under a fixed K. This is exactly how
# the published algorithm scales (cluster count grows with the data).
# At sf<=0.1 (n <= 2000 <= 8*256) the formula yields K = KMEANS_K, so
# small-scale outputs are unchanged; the 10x probe measured the fixed-K
# form NOT shrinking (15.8x -> 22.2x) and this form shrinking.
SEMDEDUP_TARGET_OCC = 256
# Coarse cells probed per vector in the two-level assignment. The
# assignment is EXACT whenever ceil(sqrt(K)) <= NPROBE, i.e.
# K <= NPROBE^2 = 36 centroids, i.e. n <= 36 * TARGET_OCC = 9216
# vectors — which covers every oracle-checked SF (sf0.1: K = 8,
# K2 = 3) with 4.5x headroom; beyond it the assignment is the
# published approximate trade (see two_level_nearest_centroid).
SEMDEDUP_NPROBE = 6


@prepared
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning over the embeddings table (SURVEY E45).

    Assignment reuses the kmeans_step convention (deterministic
    centroids = the K lowest vec_ids, broadcast; 6dp-rounded distances
    before the argmin), with K ADAPTIVE to the corpus size (see
    SEMDEDUP_TARGET_OCC — K rides a broadcast 1-row aggregate, no
    driver-side count). Within each cluster, members are ordered by
    keep-priority (dist2 DESC, vec_id — farthest-from-centroid kept
    first, the published heuristic); a member is PRUNED if its cosine
    to any higher-priority member reaches SEMDEDUP_EPS. The
    WITHIN-CLUSTER pair join is an equi-join on centroid_id — never a
    corpus cross join — and adaptive K bounds expected occupancy, so
    that leg's pair work is linear in the corpus at fixed TARGET_OCC.
    The ASSIGNMENT leg matches (r15 verdict item 1): it is the FAISS
    two-level pattern (``two_level_nearest_centroid``) — centroids
    hash to their nearest of K2 = ceil(sqrt(K)) coarse cells, vectors
    probe their SEMDEDUP_NPROBE nearest cells (a K2-row broadcast,
    K2 ~ sqrt(n/TARGET_OCC): ~2000 rows / 12 MB at 10^9 vectors),
    and candidates meet through a CELL EQUI-JOIN, never an n x K
    crossJoin — shuffle ∝ n x NPROBE + K, distance evals
    ~ n x NPROBE x sqrt(K) instead of n x K. The former n x K
    broadcast crossJoin failed outright past ~10M vectors (a
    K x 782-float broadcast). Exactness is structural, not a config
    branch: with K2 <= NPROBE every cell is probed and the assignment
    is bit-identical to exact search — true at every oracle-checked
    SF (sf0.1: K = 8, K2 = 3 <= 6) and up to n = 9216; beyond that
    the assignment is the approximate trade the published algorithm
    itself makes. Cosine rides the Arrow-batched pair kernel
    (constant plan size, left-to-right float64 — bit-identical to
    list_dot_product).
    """
    from pyspark.sql import Window

    from gentropy_spark.operators.dedup import spread_if_narrow
    from gentropy_spark.operators.similarity import (
        as_double,
        cosine_pairs_udf,
        two_level_nearest_centroid,
    )
    from gentropy_spark.session import track_cache

    emb = spread_if_narrow(
        read_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    k_row = vecs.agg(
        F.greatest(
            F.lit(KMEANS_K).cast("long"),
            F.ceil(F.count("*") / F.lit(float(SEMDEDUP_TARGET_OCC))),
        ).alias("_k")
    )
    # ONE cached K-row prefix table serves BOTH quantizer levels (r17).
    # cents/coarse are CACHED, not broadcast: each appears 2x in the
    # assignment DAG with a corpus-scan + k_row aggregate beneath it
    # (uncached, sf0.1 wall measured 13.5s vs 3.6s from the repeated
    # scans alone), and the cache is K rows — the table the old design
    # forced into an O(K) broadcast, now just a partitioned dataset.
    # The coarse cells are by construction the K2 = ceil(sqrt(K))
    # LOWEST-id centroids (same deterministic lowest-ids convention),
    # i.e. a strict PREFIX of cents — yet the previous shape built
    # them with their OWN full corpus scan + k_row aggregate + cache
    # fill. Carrying _k2 through the cents cache and filtering the
    # cached K rows instead removes one corpus scan, one corpus-grain
    # aggregate and one cache-fill job from every run; rows identical
    # (same _k2, same prefix).
    cents_full = track_cache(
        vecs.crossJoin(F.broadcast(k_row))
        .filter(F.col("vec_id") < F.col("_k"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("c"),
            F.ceil(F.sqrt(F.col("_k"))).cast("long").alias("_k2"),
        )
    )
    cents = cents_full.select("centroid_id", "c")
    coarse = cents_full.filter(F.col("centroid_id") < F.col("_k2")).select(
        F.col("centroid_id").alias("cell_id"), F.col("c").alias("cellv")
    )
    w_prio = Window.partitionBy("centroid_id").orderBy(
        F.col("dist2").desc(), F.col("vec_id")
    )
    assigned = track_cache(
        # Every coarse cell's vector is itself a centroid here (cell
        # j = vec j, j < K2 <= K), so the quantizer is structurally
        # all-occupied: the operator's precondition holds.
        two_level_nearest_centroid(
            vecs,
            cents,
            coarse,
            n_probe=SEMDEDUP_NPROBE,
            dim=EMB_DIM,
        )
        .withColumn("priority", F.row_number().over(w_prio))
        .select("vec_id", "centroid_id", "dist2", "priority", "v")
    )
    lo = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("priority").alias("pa"),
        F.col("v").alias("va"),
    )
    hi = assigned.select(
        "centroid_id",
        F.col("priority").alias("pb"),
        F.col("v").alias("vb"),
    )
    cos = cosine_pairs_udf()
    pruned = (
        lo.join(hi, on="centroid_id")
        .filter(F.col("pb") < F.col("pa"))
        .withColumn("cos", F.round(cos(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= F.lit(SEMDEDUP_EPS))
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("pruned", F.lit(True))
    )
    return (
        assigned.join(pruned, on="vec_id", how="left")
        .select(
            "vec_id",
            "centroid_id",
            "dist2",
            "priority",
            F.coalesce(~F.col("pruned"), F.lit(True)).alias("keep"),
        )
    )


def _sq_l2_sql(a: str, b: str) -> str:
    """6dp-rounded squared L2 between two DOUBLE[] columns (DuckDB) —
    the oracle twin of ``sq_l2_expr`` (both fold float64 additions
    left-to-right from index 0, so the rounded sums are
    bit-identical)."""
    return (
        f"ROUND(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )


# The oracle mirrors the Spark plan's TWO-LEVEL assignment (r16
# advisory: the former brute-force-exact oracle silently diverged from
# the Spark side wherever K2 > NPROBE made the assignment approximate
# — beyond n = NPROBE^2 * TARGET_OCC = 9216 vectors. Now BOTH engines
# share the quantizer, the same posture ann_ivfpq_topk takes, so
# parity holds at ANY corpus size; in the exact regime — every
# oracle-checked SF — the mirrored assignment is bit-identical to the
# old brute-force CTE by the structural argument above).
SEMDEDUP_SQL = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kv AS (SELECT GREATEST({KMEANS_K}, CAST(CEIL(
         COUNT(*) / {float(SEMDEDUP_TARGET_OCC)!r}::DOUBLE) AS BIGINT))
         AS k FROM vecs),
k2v AS (SELECT CAST(CEIL(SQRT(k)) AS BIGINT) AS k2 FROM kv),
cents AS MATERIALIZED (SELECT vec_id AS centroid_id, v AS c FROM vecs, kv
          WHERE vec_id < kv.k),
coarse AS MATERIALIZED (SELECT vec_id AS cell_id, v AS cellv
          FROM vecs, k2v WHERE vec_id < k2v.k2),
cent_cells AS MATERIALIZED (
  SELECT centroid_id, c, cell_id FROM (
    SELECT cn.centroid_id, cn.c, co.cell_id,
           ROW_NUMBER() OVER (PARTITION BY cn.centroid_id
             ORDER BY {_sq_l2_sql('cn.c', 'co.cellv')}, co.cell_id) AS crk
    FROM cents cn CROSS JOIN coarse co
  ) WHERE crk = 1
),
probes AS MATERIALIZED (
  SELECT vec_id, cell_id FROM (
    SELECT w.vec_id, co.cell_id,
           ROW_NUMBER() OVER (PARTITION BY w.vec_id
             ORDER BY {_sq_l2_sql('w.v', 'co.cellv')}, co.cell_id) AS prk
    FROM vecs w CROSS JOIN coarse co
  ) WHERE prk <= {SEMDEDUP_NPROBE}
),
scored AS (
  SELECT w.vec_id, cc.centroid_id,
         {_sq_l2_sql('w.v', 'cc.c')} AS dist2
  FROM probes p
  JOIN vecs w USING (vec_id)
  JOIN cent_cells cc USING (cell_id)
),
assigned AS (
  SELECT vec_id, centroid_id, dist2,
         CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
              ORDER BY dist2 DESC, vec_id) AS INT) AS priority
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist2, centroid_id) AS rk
    FROM scored
  ) WHERE rk = 1
),
av AS (SELECT a.*, v.v FROM assigned a JOIN vecs v USING (vec_id)),
pruned AS (
  SELECT DISTINCT x.vec_id
  FROM av x JOIN av y
    ON x.centroid_id = y.centroid_id AND y.priority < x.priority
  WHERE ROUND(list_dot_product(x.v, y.v)
        / (SQRT(list_dot_product(x.v, x.v))
           * SQRT(list_dot_product(y.v, y.v))), 6)
        >= {SEMDEDUP_EPS!r}::DOUBLE
)
SELECT a.vec_id, a.centroid_id, a.dist2, a.priority,
       p.vec_id IS NULL AS keep
FROM assigned a LEFT JOIN pruned p ON p.vec_id = a.vec_id
"""


REGISTRY["semdedup_prune"] = QuerySpec(q_semdedup_prune, SEMDEDUP_SQL)


# --- E52: two-level assignment recall / prune-overlap calibration ----------
# The semdedup assignment's APPROXIMATE regime (K2 > NPROBE) gets the
# same measured treatment the ANN paths get from ann_recall_eval (r16
# verdict item 2): force many clusters with a small occupancy target so
# K2 > n_probe at every oracle SF, then score the two-level assignment
# against exact nearest-centroid — per n_probe — on BOTH what a user
# tunes for (assignment recall) and what semdedup actually consumes
# (the pruned-set Jaccard overlap). Like minhash_calibration, this is
# a CALIBRATION diagnostic: the exact truth leg is O(n x K) by
# definition (it IS exact nearest-centroid search), so at production
# scale it runs on a bounded calibration sample, not the corpus.
ASSIGN_EVAL_OCC = 8  # occupancy target: K = ceil(n/8) -> K2 ~ sqrt(n/8)
ASSIGN_EVAL_NPROBES = (1, 2, 4, 16)  # 16 >= K2 at every test SF: the
# boundary row must report recall = 1.0 (measured, not argued).


def q_assignment_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-n_probe curve for the two-level centroid assignment
    (E52). One row per probed width: (n_probe, n_vectors, k, k2,
    assignment_recall, pruned_two_level, pruned_exact, prune_jaccard).

    The truth leg shares every convention with the operator
    (6dp-rounded codegen distances, (dist2, centroid_id) argmin
    tie-break) run with every cell probed — the r16-pinned structural
    exactness boundary — so the curve isolates exactly one variable:
    how many cells were probed. Prune sets replay the semdedup
    keep-priority prune (dist2 DESC within cluster, cosine >=
    SEMDEDUP_EPS to any higher-priority member) under each
    assignment; both-empty prune sets score Jaccard 1.0.

    Plan shape: ONE shared candidate table (vec x probed cell x cell
    members — the same cell equi-join as the operator) feeds every
    n_probe as a CONDITIONAL min-of-struct in a single aggregation
    (one shuffle for all widths, map-side combined), then one
    stack-unpivot, one priority window and one pair join keyed by
    (n_probe, centroid) replay all the prunes in a single pass. A
    per-width loop over the operator builds 5 assignment DAGs + 5
    prune DAGs (~40 tiny stages, 15 unrolled 64-term distance
    expressions) and measured 19s of py4j plan construction + 20s of
    stage overhead at sf0.1 for a 4-row diagnostic; the shared-scan
    form is the identical argmin arithmetic (fidelity vs the operator
    is pinned in tests/test_round17_ops.py). The conditional-min
    values equal the operator's because min-over-subset with the
    (dist2, id) struct IS its argmin; n_probe widths only gate which
    candidate rows enter each min.
    """
    from pyspark.sql import Window

    from gentropy_spark.operators.dedup import spread_if_narrow
    from gentropy_spark.operators.similarity import (
        as_double,
        cosine_pairs_udf,
        sq_l2_expr,
    )
    from gentropy_spark.session import track_cache

    emb = spread_if_narrow(
        read_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    vecs = track_cache(
        emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    )
    k_row = vecs.agg(
        F.ceil(F.count("*") / F.lit(float(ASSIGN_EVAL_OCC))).alias("_k"),
        F.ceil(
            F.sqrt(F.ceil(F.count("*") / F.lit(float(ASSIGN_EVAL_OCC))))
        )
        .cast("long")
        .alias("_k2"),
        F.count("*").alias("_n"),
    )
    cents = vecs.crossJoin(F.broadcast(k_row)).filter(
        F.col("vec_id") < F.col("_k")
    ).select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("c"))
    coarse = vecs.crossJoin(F.broadcast(k_row)).filter(
        F.col("vec_id") < F.col("_k2")
    ).select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cellv"))
    l2 = lambda a, b: sq_l2_expr(a, b, EMB_DIM)  # noqa: E731
    # centroid -> nearest cell (centroid-grain), exactly the operator's
    # step 1 (min-of-struct, (cdist, cell_id) tie-break).
    cent_cells = (
        cents.crossJoin(F.broadcast(coarse))
        .withColumn("cdist", F.round(l2(F.col("c"), F.col("cellv")), 6))
        .groupBy("centroid_id")
        .agg(F.min(F.struct(F.col("cdist"), F.col("cell_id"), F.col("c"))).alias("_m"))
        .select(
            "centroid_id",
            F.col("_m.c").alias("c"),
            F.col("_m.cell_id").alias("cell_id"),
        )
    )
    # vec -> probe rank per cell (the operator's step-2 ranking, kept
    # at FULL width so every n_probe reads a prefix of the same list).
    prank = (
        vecs.crossJoin(F.broadcast(coarse))
        .withColumn("pdist", F.round(l2(F.col("v"), F.col("cellv")), 6))
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pdist"), F.col("cell_id")))
            ).alias("_cells")
        )
        .select(
            "vec_id",
            F.posexplode(F.col("_cells.cell_id")).alias("_pos", "cell_id"),
        )
        .select("vec_id", (F.col("_pos") + 1).alias("prk"), "cell_id")
    )
    cand = (
        prank.join(vecs, on="vec_id")
        .join(cent_cells, on="cell_id")
        .withColumn("dist2", F.round(l2(F.col("v"), F.col("c")), 6))
        .select("vec_id", "prk", "centroid_id", "dist2")
    )
    # One conditional argmin per width in a single aggregation; the
    # sentinel width 10^6 >= K2 is the exact truth leg.
    widths = [*ASSIGN_EVAL_NPROBES, 1_000_000]
    mins = [
        F.min(
            F.when(
                F.col("prk") <= np_,
                F.struct(F.col("dist2"), F.col("centroid_id")),
            )
        ).alias(f"_m{np_}")
        for np_ in widths
    ]
    stack = ", ".join(f"{np_}, _m{np_}" for np_ in widths)
    assigned = track_cache(
        cand.groupBy("vec_id")
        .agg(*mins)
        .select(
            "vec_id",
            F.expr(f"stack({len(widths)}, {stack}) AS (np, _m)"),
        )
        .select(
            F.col("np").cast("int").alias("np"),
            "vec_id",
            F.col("_m.centroid_id").alias("centroid_id"),
            F.col("_m.dist2").alias("dist2"),
        )
    )
    # Replay the semdedup prune for every width in one pass, keyed by
    # (np, centroid).
    w_prio = Window.partitionBy("np", "centroid_id").orderBy(
        F.col("dist2").desc(), F.col("vec_id")
    )
    av = assigned.withColumn("priority", F.row_number().over(w_prio)).join(
        vecs, on="vec_id"
    )
    cos = cosine_pairs_udf()
    lo = av.select(
        "np",
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("priority").alias("pa"),
        F.col("v").alias("va"),
    )
    hi = av.select(
        "np",
        "centroid_id",
        F.col("priority").alias("pb"),
        F.col("v").alias("vb"),
    )
    pruned = track_cache(
        lo.join(hi, on=["np", "centroid_id"])
        .filter(F.col("pb") < F.col("pa"))
        .withColumn("cos", F.round(cos(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= F.lit(SEMDEDUP_EPS))
        .select("np", F.col("id_a").alias("vec_id"))
        .distinct()
    )
    exact_a = assigned.filter(F.col("np") == 1_000_000).select(
        "vec_id", F.col("centroid_id").alias("exact_cid")
    )
    p_exact = pruned.filter(F.col("np") == 1_000_000).select("vec_id")
    rec = (
        assigned.filter(F.col("np") != 1_000_000)
        .join(exact_a, on="vec_id")
        .groupBy("np")
        .agg(
            F.round(
                F.avg(
                    (F.col("centroid_id") == F.col("exact_cid")).cast(
                        "double"
                    )
                ),
                6,
            ).alias("assignment_recall")
        )
    )
    pa = pruned.filter(F.col("np") != 1_000_000)
    a_n = pa.groupBy("np").agg(F.count("*").alias("_a"))
    inter_n = pa.join(p_exact, on="vec_id").groupBy("np").agg(
        F.count("*").alias("_i")
    )
    e_row = p_exact.agg(F.count("*").alias("_e"))
    out = (
        rec.join(a_n, on="np", how="left")
        .join(inter_n, on="np", how="left")
        .crossJoin(F.broadcast(e_row))
        .crossJoin(F.broadcast(k_row))
    )
    union_n = (
        F.coalesce(F.col("_a"), F.lit(0))
        + F.col("_e")
        - F.coalesce(F.col("_i"), F.lit(0))
    )
    return out.select(
        F.col("np").cast("int").alias("n_probe"),
        F.col("_n").cast("long").alias("n_vectors"),
        F.col("_k").cast("long").alias("k"),
        F.col("_k2").cast("long").alias("k2"),
        "assignment_recall",
        F.coalesce(F.col("_a"), F.lit(0)).cast("long").alias(
            "pruned_two_level"
        ),
        F.col("_e").cast("long").alias("pruned_exact"),
        F.when(union_n == 0, F.lit(1.0))
        .otherwise(
            F.round(F.coalesce(F.col("_i"), F.lit(0)) / union_n, 6)
        )
        .alias("prune_jaccard"),
    )


def _assign_eval_sql() -> str:
    """DuckDB mirror of q_assignment_recall_eval — the shared feeders
    (candidate scores per probe rank, the exact argmin, the exact
    prune set) are MATERIALIZED once and every n_probe block derives
    from them (the iterative-oracle rule: an un-materialized feeder
    referenced per-block would inline len(NPROBES)+1 copies)."""
    cosxy = (
        "ROUND(list_dot_product(x.v, y.v)"
        " / (SQRT(list_dot_product(x.v, x.v))"
        " * SQRT(list_dot_product(y.v, y.v))), 6)"
    )
    blocks, selects = [], []
    for np_ in ASSIGN_EVAL_NPROBES:
        blocks.append(f"""
a{np_} AS MATERIALIZED (
  SELECT vec_id, centroid_id, dist2,
         CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
              ORDER BY dist2 DESC, vec_id) AS INT) AS priority
  FROM (
    SELECT vec_id, centroid_id, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2, centroid_id) AS rk
    FROM cand WHERE prk <= {np_}
  ) WHERE rk = 1
),
av{np_} AS MATERIALIZED (
  SELECT a.*, v.v FROM a{np_} a JOIN vecs v USING (vec_id)),
p{np_} AS MATERIALIZED (
  SELECT DISTINCT x.vec_id
  FROM av{np_} x JOIN av{np_} y
    ON x.centroid_id = y.centroid_id AND y.priority < x.priority
  WHERE {cosxy} >= {SEMDEDUP_EPS!r}::DOUBLE
)""")
        selects.append(f"""
SELECT CAST({np_} AS INT) AS n_probe,
       (SELECT COUNT(*) FROM vecs) AS n_vectors,
       (SELECT k FROM kv) AS k,
       (SELECT k2 FROM k2v) AS k2,
       (SELECT ROUND(AVG(CASE WHEN a.centroid_id = e.centroid_id
                         THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 6)
        FROM a{np_} a JOIN ax e USING (vec_id)) AS assignment_recall,
       (SELECT COUNT(*) FROM p{np_}) AS pruned_two_level,
       (SELECT COUNT(*) FROM px) AS pruned_exact,
       CASE WHEN (SELECT COUNT(*) FROM
                  (SELECT vec_id FROM p{np_} UNION SELECT vec_id FROM px)) = 0
            THEN 1.0::DOUBLE
            ELSE ROUND(
              (SELECT COUNT(*) FROM p{np_} JOIN px USING (vec_id))::DOUBLE
              / (SELECT COUNT(*) FROM
                 (SELECT vec_id FROM p{np_} UNION SELECT vec_id FROM px)), 6)
       END AS prune_jaccard""")
    return f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kv AS (SELECT CAST(CEIL(COUNT(*) / {float(ASSIGN_EVAL_OCC)!r}::DOUBLE)
              AS BIGINT) AS k FROM vecs),
k2v AS (SELECT CAST(CEIL(SQRT(k)) AS BIGINT) AS k2 FROM kv),
cents AS MATERIALIZED (SELECT vec_id AS centroid_id, v AS c
         FROM vecs, kv WHERE vec_id < kv.k),
coarse AS MATERIALIZED (SELECT vec_id AS cell_id, v AS cellv
         FROM vecs, k2v WHERE vec_id < k2v.k2),
cent_cells AS MATERIALIZED (
  SELECT centroid_id, c, cell_id FROM (
    SELECT cn.centroid_id, cn.c, co.cell_id,
           ROW_NUMBER() OVER (PARTITION BY cn.centroid_id
             ORDER BY {_sq_l2_sql('cn.c', 'co.cellv')}, co.cell_id) AS crk
    FROM cents cn CROSS JOIN coarse co
  ) WHERE crk = 1
),
prank AS MATERIALIZED (
  SELECT vec_id, cell_id, prk FROM (
    SELECT w.vec_id, co.cell_id,
           ROW_NUMBER() OVER (PARTITION BY w.vec_id
             ORDER BY {_sq_l2_sql('w.v', 'co.cellv')}, co.cell_id) AS prk
    FROM vecs w CROSS JOIN coarse co
  )
),
cand AS MATERIALIZED (
  SELECT w.vec_id, p.prk, cc.centroid_id,
         {_sq_l2_sql('w.v', 'cc.c')} AS dist2
  FROM prank p
  JOIN vecs w USING (vec_id)
  JOIN cent_cells cc USING (cell_id)
),
ax AS MATERIALIZED (
  SELECT vec_id, centroid_id, dist2,
         CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
              ORDER BY dist2 DESC, vec_id) AS INT) AS priority
  FROM (
    SELECT vec_id, centroid_id, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2, centroid_id) AS rk
    FROM cand
  ) WHERE rk = 1
),
avx AS MATERIALIZED (
  SELECT a.*, v.v FROM ax a JOIN vecs v USING (vec_id)),
px AS MATERIALIZED (
  SELECT DISTINCT x.vec_id
  FROM avx x JOIN avx y
    ON x.centroid_id = y.centroid_id AND y.priority < x.priority
  WHERE {cosxy} >= {SEMDEDUP_EPS!r}::DOUBLE
),{",".join(blocks)}
{" UNION ALL ".join(selects)}
"""


REGISTRY["assignment_recall_eval"] = QuerySpec(
    q_assignment_recall_eval, _assign_eval_sql()
)


# --- E46: model-based quality classifier (hashing-trick linear scorer) -----
# fastText/DCLM-style quality filtering (Joulin et al. 2017; the DCLM
# pipeline's model-based filter): a linear bag-of-words classifier
# over HASHED token buckets (Weinberger et al. 2009 hashing trick).
# The scoring plumbing — cross-engine token hashing, exact integer
# weight accumulation, one sigmoid — is real and scale-correct; the
# WEIGHTS are a declared deterministic stand-in (an LCG over the
# bucket id), since no trained artifact ships with the repo. Swapping
# in trained weights = replacing one integer expression with a
# broadcast lookup join.
QCLS_BUCKETS = 512
QCLS_A = 1_103_515_245  # public LCG multiplier (glibc)
QCLS_C = 12_345
QCLS_M = 2_147_483_647


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear quality score per document (E46).

    token -> poly_hash % buckets -> integer weight w_int(bucket) via
    LCG. The per-doc logit is computed EXACTLY in int64 — sum(tf *
    w_int) with tf*w_int < 2^41 — and converted to double ONCE:
    logit = S/(M*L) - 0.5 (algebraically sum(tf*(w_int/M - 0.5))/L),
    so no float accumulation order exists to diverge across engines
    or partitionings. score = sigmoid(logit) rounded 6dp. Zero UDFs,
    one partial-agg groupBy on doc_id — the same single-shuffle shape
    as token_count, at any corpus size.

    Scale note (r15, closes the r14 100x-probe flag): the per-token
    16-round Horner hash is ~2.5x the tokenize cost, so an
    under-partitioned scan serializes a CPU-bound projection —
    measured 24x wall for 100x data purely because the staged corpus
    read as 2 tasks. ``spread_if_narrow`` (file-count-guarded hash
    repartition, the corpus_curate/bm25 posture) restores scan
    parallelism; the int64 logit sum is order-free, so values are
    untouched by the re-partitioning.
    """
    from gentropy_spark.functions.text import tokens
    from gentropy_spark.functions.xhash import poly_hash
    from gentropy_spark.operators.dedup import spread_if_narrow

    docs = spread_if_narrow(read_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    bucket = poly_hash("token", nchars=16) % QCLS_BUCKETS
    w_int = (bucket * F.lit(QCLS_A).cast("long") + F.lit(QCLS_C)) % F.lit(
        QCLS_M
    ).cast("long")
    per_doc = tok.select("doc_id", w_int.alias("w")).groupBy("doc_id").agg(
        F.sum("w").alias("s"), F.count("*").alias("n_tokens")
    )
    logit = (
        F.col("s").cast("double")
        / (F.lit(QCLS_M).cast("long") * F.col("n_tokens"))
    ) - F.lit(0.5)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        score.alias("quality_score"),
        (score >= F.lit(0.5)).alias("keep"),
    )


_QCLS_BUCKET_SQL = f"(({poly_hash_sql('token', 16)}) % {QCLS_BUCKETS})"

QCLS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS token FROM documents
),
wt AS (
  SELECT doc_id,
         (({_QCLS_BUCKET_SQL}) * {QCLS_A} + {QCLS_C}) % {QCLS_M} AS w
  FROM tok
),
per_doc AS (
  SELECT doc_id, SUM(w) AS s, COUNT(*) AS n_tokens FROM wt GROUP BY 1
),
scored AS (
  SELECT doc_id, n_tokens,
         ROUND(1.0::DOUBLE / (1.0::DOUBLE + EXP(-(
           CAST(s AS DOUBLE) / ({QCLS_M} * n_tokens) - 0.5::DOUBLE
         ))), 6) AS quality_score
  FROM per_doc
)
SELECT doc_id, n_tokens, quality_score,
       quality_score >= 0.5::DOUBLE AS keep
FROM scored
"""


REGISTRY["quality_classifier"] = QuerySpec(q_quality_classifier, QCLS_SQL)


def q_corpus_curate_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22b: the full curation pipeline with the E46 model-based
    quality gate fused into its scan (see ``q_corpus_curate`` — r16
    verdict item 4: the curation DAG now CONSUMES the repo's
    model-based scorer, the DCLM/CCNet posture, instead of shipping it
    as an unconnected leaf)."""
    return q_corpus_curate(spark, sf_dir, classifier_gate=True)


# Registered here (not beside E22): _curate_sql(scored=True) inlines
# QCLS_SQL, which is defined just above.
REGISTRY["corpus_curate_scored"] = QuerySpec(
    q_corpus_curate_scored, _curate_sql(scored=True)
)


# --- E47: full BPE trainer loop --------------------------------------------
BPE_TRAIN_MERGES = 4

# Greedy left-to-right merge of the 1-row pair `_bp` ("A B") into the
# space-joined symbol string `sym`, as a left fold over the symbol
# array. Non-overlap is structural: the accumulator's last token only
# matches A if it is an ORIGINAL A — a just-merged token is the string
# A||B, which can never equal A (B non-empty) — so runs like
# 'l l l l' under pair (l,l) merge to 'll ll' (string replace with
# space sentinels consumes the shared boundary space and under-merges
# to 'll l l'; see the r14 advisory). Mirrored by the DuckDB
# list_reduce fold in _bpe_train_sql(), proven step-equivalent in
# tests/test_round14_ops.py::test_bpe_merge_fold_adjacent_occurrences.
BPE_MERGE_FOLD_EXPR = """
  array_join(
    aggregate(
      split(sym, ' '),
      cast(array() as array<string>),
      (acc, x) -> IF(size(acc) > 0
                     AND element_at(acc, -1) = element_at(split(_bp, ' '), 1)
                     AND x = element_at(split(_bp, ' '), 2),
                     concat(slice(acc, 1, size(acc) - 1),
                            array(concat(element_at(split(_bp, ' '), 1),
                                         element_at(split(_bp, ' '), 2)))),
                     concat(acc, array(x)))
    ), ' ')
"""


def _bpe_train_loop(spark: SparkSession, sf_dir: str):
    """The full BPE merge loop (Sennrich et al. 2016) — K merge
    iterations over the word-frequency dictionary, extending
    bpe_pair_counts (one pair-statistics pass) to the actual trainer.
    Returns ``(merges, state)``: the merge table (the E47 output) and
    the final per-word symbolization (word, n, sym) the E49 encoder
    consumes.

    Scale design is the classic one: the only corpus-sized work is the
    ONE word-count aggregation (shuffle ∝ distinct vocabulary); every
    merge iteration then operates on the aggregated dictionary, so the
    loop cost is K × O(|vocab| × max word length) regardless of corpus
    size. Each iteration is a declarative stage — adjacent-pair counts
    from the symbolized words, the argmax pair via a deterministic
    sort-limit (count DESC, pair ASC), and a greedy left-to-right
    merge as a LEFT FOLD over the symbol array (aggregate HOF)
    carrying the merged prefix. String replace() is WRONG here:
    ' l l l l '.replace(' l l ', ' ll ') consumes the shared boundary
    space and yields 'll l l', not the Sennrich greedy 'll ll' —
    adjacent occurrences under-merge (r14 advisory). The fold needs no
    just-merged flag because the merged token A||B can never
    string-equal A (B is non-empty), so a token produced this pass can
    never chain into another merge of the same pair. The merged pair
    broadcasts as a 1-row build side; nothing collects to the driver.
    ``localCheckpoint`` between iterations truncates lineage so
    iteration K plans against a materialised state instead of K
    chained aggregations (the dup_pagerank lesson; cut the 100x-probe
    growth).

    Output: one row per merge step — (step, merged_pair, pair_count),
    the merge table a BPE tokenizer ships as its model artifact.
    """
    from gentropy_spark.session import track_local_checkpoint

    # The ONE corpus-sized stage of the trainer.
    word_freq = _word_freq(spark, sf_dir)
    state = word_freq.select(
        "word",
        "n",
        F.array_join(
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            ),
            " ",
        ).alias("sym"),
    )
    merges = None
    for step in range(1, BPE_TRAIN_MERGES + 1):
        # Guard BEFORE the sequence: sequence(1, 0) would generate a
        # DESCENDING range (the shingles lesson).
        pairs = (
            state.filter(F.size(F.split(F.col("sym"), " ")) >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(sym, ' ')) - 1),"
                        " i -> concat(element_at(split(sym, ' '), i), ' ',"
                        "             element_at(split(sym, ' '), i + 1)))"
                    )
                ).alias("pair"),
            )
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("n").cast("bigint").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("pair"))
            .limit(1)
        )
        merge_row = best.select(
            F.lit(step).alias("step"),
            F.col("pair").alias("merged_pair"),
            "pair_count",
        )
        merges = (
            merge_row if merges is None else merges.unionByName(merge_row)
        )
        # track_local_checkpoint (not bare localCheckpoint): the K
        # per-iteration checkpoint RDDs are invisible to the
        # CacheManager, so sweep-scope release_caches() could not free
        # them otherwise (r15 advisory — each build leaked K
        # vocab-grain RDDs for the session lifetime).
        state = track_local_checkpoint(
            state.crossJoin(
                F.broadcast(best.select(F.col("pair").alias("_bp")))
            ).select("word", "n", F.expr(BPE_MERGE_FOLD_EXPR).alias("sym"))
        )
    # Safety note: once release_caches() frees these checkpoints the
    # returned DataFrames hold truncated-lineage RDDs that cannot
    # recompute — which is why the bpe builders are deliberately NOT
    # ``prepared`` (pinned by tests/test_prepared.py): every call
    # rebuilds the chain, so a release between calls can never strand
    # a consumer.
    return merges, state


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47: the BPE merge table (see ``_bpe_train_loop``)."""
    return _bpe_train_loop(spark, sf_dir)[0]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table back to the corpus (E49) —
    the encode half of the tokenizer lifecycle (Sennrich et al. 2016
    apply_bpe): every document re-tokenized with the K learned merges,
    reported as the per-document token accounting a data pipeline
    actually ships (BPE token count, word count, chars-per-token
    compression — the fertility metric tokenizer papers quote).

    Scale shape: encoding is a DICTIONARY problem — the merge loop
    already produced the final symbolization per DISTINCT word
    (vocab-grain), so applying it corpus-wide is one join of the
    (word -> symbol count) vocabulary onto the token stream plus a
    partial-agg groupBy(doc_id). No per-document merge work, no
    corpus-sized shuffle beyond the doc-grain aggregate; the corpus
    scan is spread_if_narrow like the trainer's. The vocabulary join
    carries NO broadcast hint (r15 verdict): the vocab side is every
    distinct whitespace token of the corpus — unbounded in corpus
    size (10^8-10^9 rows on a web corpus), so a forced broadcast is a
    job-killing hit on Spark's 8 GB broadcast limit at scale. AQE
    picks the strategy from the measured size at runtime: it
    broadcasts when the vocab is actually small (every tested SF) and
    falls back to a shuffled hash/sort-merge join on `word` when it
    is not — values identical either way (equi-join on a key).
    """
    from gentropy_spark.functions.text import tokens
    from gentropy_spark.operators.dedup import spread_if_narrow

    _, state = _bpe_train_loop(spark, sf_dir)
    vocab = state.select(
        "word", F.size(F.split(F.col("sym"), " ")).alias("n_bpe")
    )
    docs = spread_if_narrow(read_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    agg = tok.join(vocab, on="word").groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum(F.length("word")).cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
    )


def _bpe_chain_sql() -> list[str]:
    """The shared K-stage merge chain as CTE lines; every state/best
    CTE is MATERIALIZED — each stage references its predecessor twice
    (pair scan + next state), which would otherwise inline 2^K copies
    of the feeder (the dup_pagerank lesson). ``word`` is carried
    through every state so the encode tail can join the final
    symbolization back onto the token stream."""
    parts = [
        f"WITH words AS (SELECT unnest({TOKS_SQL}) AS word FROM documents),",
        "word_freq AS (SELECT word, COUNT(*) AS n FROM words GROUP BY 1),",
        "st0 AS MATERIALIZED (",
        "  SELECT word, n, array_to_string(list_transform(",
        "    generate_series(1, len(word)), i -> word[i:i]), ' ') AS sym",
        "  FROM word_freq",
        "),",
    ]
    for k in range(1, BPE_TRAIN_MERGES + 1):
        prev = f"st{k - 1}"
        parts += [
            f"p{k} AS (",
            "  SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count FROM (",
            "    SELECT n, unnest(list_transform(",
            "      generate_series(1, len(s) - 1),",
            "      i -> s[i] || ' ' || s[i+1])) AS pair",
            f"    FROM (SELECT n, string_split(sym, ' ') AS s FROM {prev})",
            "    WHERE len(s) >= 2",
            "  ) GROUP BY 1",
            "),",
            f"b{k} AS MATERIALIZED (",
            f"  SELECT pair, pair_count FROM p{k}",
            "  ORDER BY pair_count DESC, pair LIMIT 1",
            "),",
            f"st{k} AS MATERIALIZED (",
            "  SELECT word, n,"
            " CASE WHEN len(string_split(sym, ' ')) = 1 THEN sym",
            "  ELSE list_reduce(string_split(sym, ' '),",
            "    (acc, x) -> CASE",
            "      WHEN regexp_extract(acc, '[^ ]*$')"
            " = split_part(b.pair, ' ', 1)",
            "       AND x = split_part(b.pair, ' ', 2)",
            "      THEN regexp_replace(acc, '[^ ]*$',",
            "        split_part(b.pair, ' ', 1)"
            " || split_part(b.pair, ' ', 2))",
            "      ELSE acc || ' ' || x END) END AS sym",
            f"  FROM {prev}, b{k} b",
            "),",
        ]
    # Drop the trailing comma of the last CTE.
    parts[-1] = parts[-1].rstrip(",")
    return parts


def _bpe_train_sql() -> str:
    selects = [
        f"SELECT {k} AS step, pair AS merged_pair, pair_count FROM b{k}"
        for k in range(1, BPE_TRAIN_MERGES + 1)
    ]
    return "\n".join(_bpe_chain_sql()) + "\n" + "\nUNION ALL ".join(selects)


def _bpe_encode_sql() -> str:
    last = f"st{BPE_TRAIN_MERGES}"
    return (
        "\n".join(_bpe_chain_sql())
        + f"""
SELECT doc_id, n_words, n_bpe_tokens, n_chars,
       ROUND(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) AS chars_per_token
FROM (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(string_split(s.sym, ' '))) AS BIGINT) AS n_bpe_tokens,
         CAST(SUM(length(t.word)) AS BIGINT) AS n_chars
  FROM (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents) t
  JOIN {last} s ON s.word = t.word
  GROUP BY 1
)
"""
    )


BPE_TRAIN_SQL = _bpe_train_sql()
BPE_ENCODE_SQL = _bpe_encode_sql()

REGISTRY["bpe_train"] = QuerySpec(q_bpe_train, BPE_TRAIN_SQL)
REGISTRY["bpe_encode"] = QuerySpec(q_bpe_encode, BPE_ENCODE_SQL)


# --- E48: deterministic epoch shuffle + sharding ----------------------------
EPOCH_SHUFFLE_SHARDS = 8
EPOCH_SHUFFLE_EPOCH = 3  # fixed probe epoch; epoch is a free parameter


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-wise global shuffle + shard assignment
    (SURVEY E48) — the training-data loader contract: every epoch is a
    DIFFERENT pseudorandom permutation of the corpus, yet each is
    byte-reproducible from (doc_id, epoch) alone, so any worker can
    recompute its shard without coordination (the Grain / tf.data
    deterministic-shuffle design).

    position key = poly_hash(doc_id || ':' || epoch) — the cross-engine
    Horner hash, so permutations match DuckDB bit-for-bit; shard = key
    % n_shards; within-shard order = one window over the shard
    partition (shuffle ∝ corpus, partitioned by shard — at cluster
    scale each shard sorts independently; no global sort, no driver
    state). Ties (hash collisions) break by doc_id.
    """
    from pyspark.sql import Window

    from gentropy_spark.functions.xhash import poly_hash

    docs = read_table(spark, sf_dir, "documents")
    key = poly_hash(
        F.concat_ws(":", F.col("doc_id"), F.lit(EPOCH_SHUFFLE_EPOCH)),
        nchars=24,
    )
    keyed = docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        (key % EPOCH_SHUFFLE_SHARDS).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("int").alias("position"),
    )


_EPOCH_KEY_SQL = poly_hash_sql(
    f"(doc_id || ':' || {EPOCH_SHUFFLE_EPOCH})", 24
)

EPOCH_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, {_EPOCH_KEY_SQL} AS shuffle_key
  FROM documents
)
SELECT doc_id,
       CAST(shuffle_key % {EPOCH_SHUFFLE_SHARDS} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY shuffle_key % {EPOCH_SHUFFLE_SHARDS}
         ORDER BY shuffle_key, doc_id) AS INT) AS position
FROM keyed
"""

REGISTRY["epoch_shuffle"] = QuerySpec(q_epoch_shuffle, EPOCH_SHUFFLE_SQL)
