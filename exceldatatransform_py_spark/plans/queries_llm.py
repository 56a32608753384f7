"""Driver-scored queries: LLM-pipeline operators (north-star mandate).

Dedup / near-dup / similarity / text analysis / multimodal plumbing
over the ``documents`` and ``embeddings`` tables. Every query here has
a full-value DuckDB oracle — including MinHash-LSH and SimHash, whose
md5-derived hashing (``functions.text.md5_hash32``) is reproduced
verbatim in generated SQL. Long oracle strings are built
programmatically from the same constants the Spark plans use, so the
two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exceldatatransform_py_spark.functions.text import (
    STOPWORDS,
    lang_id,
    md5_hash32,
    normalize_text,
    punct_count,
    quality_score,
    stopword_hits,
    token_count_bpe,
    token_count_ws,
    word_shingles,
    ws_tokens,
)
from exceldatatransform_py_spark.operators.dedup import (
    connected_components,
    duplicate_ngram_spans,
    exact_dedup,
    minhash_lsh_pairs,
    containment_pairs,
    ngram_jaccard_pairs,
    shingle_index,
    simhash64,
    simhash_near_dup,
    SIMHASH_BANDS,
)
from exceldatatransform_py_spark.operators.clustering import (
    kmeans_assign,
    kmeans_centroids,
)
from exceldatatransform_py_spark.operators.multimodal import binary_featurize
from exceldatatransform_py_spark.operators.similarity import (
    _sq8_decode,
    _sq8_encode,
    cosine_topk,
    hyperplane_lsh_topk,
    random_hyperplanes,
    sq8_codebook,
)
from exceldatatransform_py_spark.plans.registry import register
from exceldatatransform_py_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# Shared oracle-SQL fragments (DuckDB dialect), kept next to the Spark
# expressions they mirror.
# ---------------------------------------------------------------------------

#: functions.text.ws_tokens(col)
_TOKS = r"list_filter(string_split_regex(trim({col}), '\s+'), x -> x != '')"

#: functions.text.word_shingles(toks, n=3) — distinct word 3-grams;
#: docs shorter than 3 tokens contribute one full-text shingle.
_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len({toks}) - 2, 1) + 1), "
    "i -> array_to_string({toks}[i:i+2], ' ')))"
)

#: functions.text.md5_hash32(x, seed) — portable 32-bit hash.
_H32 = "CAST(concat('0x', substr(md5(concat('{seed}:', {x})), 1, 8)) AS BIGINT)"


def _stop_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _stop_hits(toks: str, lang: str) -> str:
    return f"len(list_filter({toks}, t -> list_contains({_stop_list(lang)}, t)))"


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy on normalized text).
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=r"""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS d
      FROM documents
    )
    GROUP BY d
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex).
# ---------------------------------------------------------------------------


@register(
    "token_counts",
    oracle=rf"""
    SELECT doc_id,
           len({_TOKS.format(col="text")}) AS n_ws_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").cast("long").alias("n_ws_tokens"),
        token_count_bpe("text").cast("long").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword ratios).
# ---------------------------------------------------------------------------

_QTOKS = _TOKS.format(col="lower(text)")

@register(
    "text_quality",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
             CAST({_stop_hits(_QTOKS, "en")} AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, n_punct, n_stop,
           CAST(n_chars >= 50 AND n_chars <= 10000 AS DOUBLE) * 0.4
           + CAST(CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) >= 2.0
                  AND CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) <= 12.0
                  AS DOUBLE) * 0.3
           + least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 3.0, 1.0) * 0.2
           + least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) * 20.0, 1.0) * 0.1
           AS quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    staged = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        punct_count("text").cast("long").alias("n_punct"),
        stopword_hits(toks, "en").cast("long").alias("n_stop"),
    )
    return staged.select(
        "*",
        quality_score(
            F.col("n_chars"), F.col("n_tokens"), F.col("n_punct"), F.col("n_stop")
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Language ID (stopword vote over en/it/de/fr).
# ---------------------------------------------------------------------------


@register(
    "lang_id_detect",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             {_stop_hits(_QTOKS, "en")} AS s_en,
             {_stop_hits(_QTOKS, "it")} AS s_it,
             {_stop_hits(_QTOKS, "de")} AS s_de,
             {_stop_hits(_QTOKS, "fr")} AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_it, s_de, s_fr) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_it, s_de, s_fr) THEN 'en'
                WHEN s_it = greatest(s_en, s_it, s_de, s_fr) THEN 'it'
                WHEN s_de = greatest(s_en, s_it, s_de, s_fr) THEN 'de'
                ELSE 'fr'
           END AS lang_guess
    FROM t
    """,
)
def lang_id_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", lang_id(ws_tokens(F.lower(F.col("text")))).alias("lang_guess")
    )


# ---------------------------------------------------------------------------
# Document fingerprint (min-of-md5 over shingles = 1-perm MinHash).
# ---------------------------------------------------------------------------

_FP_TOKS = _TOKS.format(col="text")

@register(
    "doc_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_FP_TOKS} AS toks FROM documents)
    SELECT doc_id,
           list_min(list_transform({_SHINGLES.format(toks="toks")},
                                   s -> md5(s))) AS fingerprint
    FROM t
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: single-row-group parquet scans are 1 task; the
    # shingle/hash explode pipeline must parallelize before it.
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    shingles = word_shingles(ws_tokens("text"), n=3)
    return docs.select(
        "doc_id",
        F.array_min(F.transform(shingles, lambda s: F.md5(s))).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (inverted-index join).
# ---------------------------------------------------------------------------

# Hashed-shingle inverted index (operators.dedup.shingle_index twin):
# md5-hash each token once per seed, polynomial-fold each n-gram
# window ((acc*B + x) % M — list_reduce starts at the first element,
# which equals Spark's fold from 0 because x0 % M = x0), parallel
# unnest zips the two fold lists, row-level DISTINCT mirrors Spark's
# in-array array_distinct, and the window count rebuilds n_sh.
# Empty-token docs are padded to [0] so both engines emit the (0, 0)
# sentinel shingle.
from exceldatatransform_py_spark.functions.text import (  # noqa: E402
    SHINGLE_B0,
    SHINGLE_B1,
    SHINGLE_M,
)

_PAD = "CASE WHEN len(toks) = 0 THEN [CAST(0 AS BIGINT)] ELSE {th} END"
_TH0 = _PAD.format(th=f"list_transform(toks, t -> {_H32.format(seed=0, x='t')})")
_TH1 = _PAD.format(th=f"list_transform(toks, t -> {_H32.format(seed=1, x='t')})")

_HASHED_INV = f"""
    t AS (SELECT doc_id, {_FP_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, {_TH0} AS th0, {_TH1} AS th1 FROM t),
    win AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(th0) - 2, 1) + 1),
               i -> list_reduce(th0[i:i+2],
                                (x, y) -> (x * {SHINGLE_B0} + y) % {SHINGLE_M}))) AS h,
             unnest(list_transform(range(1, greatest(len(th1) - 2, 1) + 1),
               i -> list_reduce(th1[i:i+2],
                                (x, y) -> (x * {SHINGLE_B1} + y) % {SHINGLE_M}))) AS g
      FROM th
    ),
    ded AS (SELECT DISTINCT doc_id, h, g FROM win),
    inv AS (
      SELECT doc_id, count(*) OVER (PARTITION BY doc_id) AS n_sh, h, g FROM ded
    )
"""

_JACCARD_CTE = f"""
    WITH {_HASHED_INV},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      FROM inv a JOIN inv b
        ON a.h = b.h AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
"""


@register(
    "near_dup_jaccard",
    oracle=_JACCARD_CTE
    + """
    SELECT id_a, id_b,
           CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) AS jaccard
    FROM pairs
    WHERE CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) >= 0.5
    """,
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: single-row-group parquet scans are 1 task; the
    # shingle/hash explode pipeline must parallelize before it.
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (banding candidates, exact verification).
# The oracle reproduces the banding with the same md5-derived hashes.
# ---------------------------------------------------------------------------

_MH_K, _MH_BANDS = 16, 4
_MH_R = _MH_K // _MH_BANDS


def _mh_oracle(recursive: bool = False) -> str:
    # Mirrors operators.dedup.shingle_index / minhash_signature on the
    # hashed-shingle index: h0 = h % 2^32, h1 = g % 2^32; k signature
    # values s_i = min(h0 + i*h1) (Kirsch-Mitzenmacher double hashing).
    # ``recursive=True`` emits WITH RECURSIVE so callers can append
    # recursive members (the connected-components closure).
    sig_cols = ", ".join(
        f"min(h % 4294967296 + {i} * (g % 4294967296)) AS s{i}"
        for i in range(_MH_K)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bucket FROM sigs".format(
            b=bi,
            cols=", ".join(
                f"CAST(s{bi * _MH_R + j} AS VARCHAR)" for j in range(_MH_R)
            ),
        )
        for bi in range(_MH_BANDS)
    )
    return f"""
    WITH {"RECURSIVE " if recursive else ""}{_HASHED_INV},
    sigs AS (SELECT doc_id, {sig_cols} FROM inv GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      FROM inv a JOIN inv b
        ON a.h = b.h AND a.g = b.g AND a.doc_id < b.doc_id
      JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    mh AS (
      SELECT id_a, id_b,
             CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) AS jaccard
      FROM pairs
      WHERE CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) >= 0.5
    )
    """




@register(
    "minhash_lsh_near_dup",
    oracle=_mh_oracle() + "SELECT id_a, id_b, jaccard FROM mh",
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: single-row-group parquet scans are 1 task; the
    # shingle/hash explode pipeline must parallelize before it.
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    return minhash_lsh_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        n=3,
        k=_MH_K,
        bands=_MH_BANDS,
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints (63-bit majority vote over token hashes).
# ---------------------------------------------------------------------------


def _simhash_oracle(p: str = "") -> str:
    """Fingerprint SELECT; ``p`` prefixes the inner CTE names so the
    fragment can nest inside another oracle's WITH scope (CTE names
    must be globally unique within a query — see NOTES)."""
    h0 = _H32.format(seed=0, x="tok")
    h1 = _H32.format(seed=1, x="tok")
    bit_sums = ",\n             ".join(
        f"SUM(({h0 if b < 32 else h1} >> {b if b < 32 else b - 32}) % 2) AS b{b}"
        for b in range(63)
    )
    fp = " + ".join(
        f"CAST(b{b} * 2 > n_tok AS BIGINT) * {2**b}" for b in range(63)
    )
    return f"""
    WITH {p}toks AS (SELECT doc_id, unnest({_FP_TOKS}) AS tok FROM documents),
    {p}agg AS (
      SELECT doc_id, count(*) AS n_tok,
             {bit_sums}
      FROM {p}toks GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM {p}agg
    """


@register("simhash_fingerprint", oracle=_simhash_oracle())
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: single-row-group parquet scans are 1 task; the
    # shingle/hash explode pipeline must parallelize before it.
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    return simhash64(docs, id_col="doc_id", text_col="text")


_SIMHASH_HAM_MAX = 3
_SIMHASH_MAX_BAND_DOCS = 200


def _simhash_pairs_oracle() -> str:
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(SIMHASH_BANDS)
    )
    return f"""
    WITH snfp AS ({_simhash_oracle(p='sn')}),
    snb AS (
      SELECT doc_id, simhash, band, (simhash >> shift) & mask AS bv
      FROM snfp, (VALUES {band_rows}) AS bands(band, shift, mask)
    ),
    sng AS (
      SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn FROM snb
    ),
    snp AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.simhash AS afp, b.simhash AS bfp
      FROM sng a JOIN sng b USING (band, bv)
      WHERE a.doc_id < b.doc_id
        AND a.bn <= {_SIMHASH_MAX_BAND_DOCS}
        AND b.bn <= {_SIMHASH_MAX_BAND_DOCS}
    ),
    snh AS (
      SELECT a_id, b_id,
             CAST(bit_count(xor(afp, bfp)) AS INTEGER) AS hamming
      FROM snp
    )
    SELECT a_id, b_id, hamming FROM snh WHERE hamming <= {_SIMHASH_HAM_MAX}
    """


@register("simhash_near_dup_pairs", oracle=_simhash_pairs_oracle())
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup extraction — the pairing step the SimHash
    dedup method needs on top of ``simhash_fingerprint`` (banded
    blocking + exact hamming verify; see ``simhash_near_dup``)."""
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    fp = simhash64(docs, id_col="doc_id", text_col="text")
    return simhash_near_dup(
        fp,
        id_col="doc_id",
        fp_col="simhash",
        ham_max=_SIMHASH_HAM_MAX,
        max_band_docs=_SIMHASH_MAX_BAND_DOCS,
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings: exact brute-force top-k and the
# hyperplane-LSH approximate path (both fully oracle-checked — the LSH
# planes are literals shared between the Spark plan and the SQL).
# ---------------------------------------------------------------------------

# operators.similarity._dec_dot: floor(x*y*1e12) as BIGINT, exact sum.
_DEC_DOT = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "* 1000000000000.0) AS BIGINT)"
    ")) AS DOUBLE)"
)

_COSINE = (
    f"{_DEC_DOT.format(a='qv', b='cv')} / "
    f"(sqrt({_DEC_DOT.format(a='qv', b='qv')}) * sqrt({_DEC_DOT.format(a='cv', b='cv')}))"
)


def _brute_topk_sql(p: str = "") -> str:
    """Standalone exact-top-5 SELECT; ``p`` prefixes the inner CTE
    names so several fragments can share one oracle's WITH scope
    (CTE names must be globally unique within a query — see NOTES)."""
    return f"""
    WITH {p}q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    {p}c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    {p}s AS (
      SELECT query_id, neighbor_id, {_COSINE} AS cosine
      FROM {p}q, {p}c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM {p}s
    QUALIFY rk <= 5
    """


@register("cosine_topk_bruteforce", oracle=_brute_topk_sql())
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, id_col="vec_id",
        vec_col="embedding", k=5,
    )


_ANN_PLANES = random_hyperplanes(dim=64, n_planes=4, seed=42)


def _ann_oracle(p: str = "") -> str:
    """Standalone LSH-top-5 SELECT; ``p`` prefixes inner CTE names
    (see ``_brute_topk_sql``)."""
    # operators.similarity.lsh_bucket: same floor-scaled dot for sign bits.
    proj = (
        "CAST(list_sum(list_transform(range(1, len({v}) + 1), "
        "i -> CAST(floor(CAST({v}[i] AS DOUBLE) * ([{plane}])[i] "
        "* 1000000000000.0) AS BIGINT)"
        ")) AS DOUBLE)"
    )
    bucket = " + ".join(
        "CAST({p} > 0 AS BIGINT) * {w}".format(
            p=proj.format(v="embedding", plane=", ".join(str(v) for v in pl)),
            w=2**i,
        )
        for i, pl in enumerate(_ANN_PLANES)
    )
    # multi-probe: each query probes its own bucket plus every bucket
    # one sign-bit away (operators.similarity.hyperplane_lsh_topk,
    # probe_hamming=1).
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {2**i})" for i in range(len(_ANN_PLANES))]
    )
    return f"""
    WITH {p}b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
    {p}q AS (
      SELECT query_id, qv, unnest([{probe_list}]) AS bucket
      FROM (SELECT vec_id AS query_id, embedding AS qv, bucket
            FROM {p}b WHERE vec_id < 10)
    ),
    {p}c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM {p}b),
    {p}s AS (
      SELECT query_id, neighbor_id, {_COSINE} AS cosine
      FROM {p}q JOIN {p}c USING (bucket) WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM {p}s
    QUALIFY rk <= 5
    """


@register("ann_lsh_topk", oracle=_ann_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        emb.filter(F.col("vec_id") < 10), emb, id_col="vec_id",
        vec_col="embedding", k=5, dim=64, n_planes=4, seed=42,
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: opaque binary column → Arrow-batched Python
# featurization (mapInPandas). The digest/byte-count parity with SQL
# proves the bytes crossed the boundary intact.
# ---------------------------------------------------------------------------


@register(
    "binary_featurize",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
)
def binary_featurize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return binary_featurize(docs, id_col="doc_id", bin_col="payload")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (the dedup-family variant of the
# ANN path): same-LSH-bucket pairs with cosine >= threshold. The
# threshold is tuned to the synthetic corpus (random vectors peak at
# ~0.51 cosine) so the candidate/accept machinery is actually
# exercised; a real near-dup corpus would sit at ~0.95.
# ---------------------------------------------------------------------------


def _emb_near_dup_oracle() -> str:
    proj = (
        "CAST(list_sum(list_transform(range(1, len({v}) + 1), "
        "i -> CAST(floor(CAST({v}[i] AS DOUBLE) * ([{plane}])[i] "
        "* 1000000000000.0) AS BIGINT)"
        ")) AS DOUBLE)"
    )
    bucket = " + ".join(
        "CAST({p} > 0 AS BIGINT) * {w}".format(
            p=proj.format(v="embedding", plane=", ".join(str(v) for v in pl)),
            w=2**i,
        )
        for i, pl in enumerate(_ANN_PLANES)
    )
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS id_a, embedding AS qv, bucket FROM b),
    c AS (SELECT vec_id AS id_b, embedding AS cv, bucket FROM b),
    s AS (
      SELECT id_a, id_b, {_COSINE} AS cosine
      FROM q JOIN c USING (bucket) WHERE id_a < id_b
    )
    SELECT id_a, id_b, cosine FROM s WHERE cosine >= 0.4
    """


@register("embedding_near_dup_pairs", oracle=_emb_near_dup_oracle())
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.similarity import (
        _cosine_pre,
        _norm,
        lsh_bucket,
    )

    emb = read_table(spark, sf_dir, "embeddings", fan_out=True)
    b = emb.select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding"), _ANN_PLANES).alias("__bucket"),
        _norm(F.col("embedding")).alias("__n"),
    )
    q = b.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__qv"),
        "__bucket", F.col("__n").alias("__qn"),
    )
    c = b.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__cv"),
        "__bucket", F.col("__n").alias("__cn"),
    )
    pairs = (
        q.join(c, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")),
        )
        .filter(F.col("cosine") >= 0.4)
    )
    return pairs.select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# Multimodal plumbing, scored end-to-end: container packing + demux
# (1 row → N frames via a REAL header/offset-table parse — see
# operators.multimodal SVC format), probe-style metadata extraction,
# and resize-normalization (1 row → 1 fixed-size payload). The corpus
# is pure ASCII, so the oracle's character-based substring/length
# arithmetic is byte-exact against the Python codec.
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.operators.multimodal import (  # noqa: E402
    bmp_metadata,
    bmp_resize_gray,
    frame_sample,
    media_metadata,
    pack_bmp,
    pack_media,
    pack_wav,
    wav_stats,
)


@register(
    "frame_sample_media",
    oracle="""
    WITH i AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / 128.0) AS BIGINT))) AS fi
      FROM documents
    )
    SELECT doc_id,
           CAST(fi AS INTEGER) AS frame_idx,
           encode(substring(text, CAST(fi * 128 + 1 AS BIGINT), 64)) AS frame,
           CAST(length(substring(text, CAST(fi * 128 + 1 AS BIGINT), 64)) AS INTEGER)
             AS frame_len
    FROM i
    """,
)
def frame_sample_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pack the text bytes into SVC containers (128-byte frames), then
    # demux them back by parsing the header + offset index and crop
    # each frame to its first 64 bytes; the oracle recomputes the
    # expected frames with pure substring arithmetic — any error in
    # the encoder's index layout or the demuxer's offset walk breaks
    # the byte-exact frame match.
    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = pack_media(docs, id_col="doc_id", bin_col="payload", frame_bytes=128)
    return frame_sample(media, id_col="doc_id", media_col="media", crop_bytes=64)


@register(
    "media_metadata",
    oracle="""
    SELECT doc_id,
           CAST(64 + (doc_id % 4) * 32 AS INTEGER) AS width,
           CAST(48 + (doc_id % 3) * 24 AS INTEGER) AS height,
           CAST(ceil(length(text) / 128.0) AS INTEGER) AS n_frames,
           CAST(13 + 8 * CAST(ceil(length(text) / 128.0) AS BIGINT)
                + length(text) AS BIGINT) AS media_bytes,
           CAST(length(text) AS BIGINT) AS frame_bytes
    FROM documents
    """,
)
def media_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ffprobe-shaped metadata: pack containers, then parse the header
    # (magic/version check, u16 dims, u32 frame count) and walk the
    # offset table summing frame lengths. The oracle recomputes every
    # field from first principles (header is 13 bytes + 8 per frame;
    # width/height are the deterministic per-id values pack_media
    # writes) — a parser that didn't really read the binary could not
    # reproduce them.
    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = pack_media(docs, id_col="doc_id", bin_col="payload", frame_bytes=128)
    return media_metadata(media, id_col="doc_id", media_col="media")


# Shared byte accessor for the BMP/WAV oracles: pixel/sample byte j
# (1-indexed) of a document is the j-th text byte, or 0 past the end
# (the encoder zero-pads). Corpus is pure ASCII so char == byte.
_PIX = (
    "CASE WHEN {j} <= length(text) "
    "THEN ord(substring(text, CAST({j} AS INTEGER), 1)) ELSE 0 END"
)


def _gray_oracle_expr() -> str:
    """Nearest-neighbor 8×8 grayscale of the w×h RGB image whose
    pixel bytes are the document text (zero-padded): output index i →
    source pixel (y·h//8, x·w//8), gray = (r + g + b) // 3."""
    off = "((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) * 3"
    return (
        "list_transform(range(0, 64), i -> CAST(("
        + " + ".join(_PIX.format(j=f"({off} + {k})") for k in (1, 2, 3))
        + ") // 3 AS BIGINT))"
    )


@register(
    "resize_normalize_media",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, text,
             CAST(12 + (doc_id % 5) * 3 AS INTEGER) AS w,
             CAST(8 + (doc_id % 4) * 2 AS INTEGER) AS h
      FROM documents
    )
    SELECT doc_id, w AS width, h AS height,
           {_gray_oracle_expr()} AS gray
    FROM dims
    """,
)
def resize_normalize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL image path: encode each document's bytes as a 24-bit BMP
    # (spec-correct headers, bottom-up padded BGR rows), decode it
    # back, nearest-neighbor-resample to 8×8, and grayscale. The
    # oracle recomputes every output pixel from first principles on
    # the raw bytes — a decoder that mishandled the stride padding,
    # the row flip, or the BGR order produces different values.
    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    images = pack_bmp(docs, id_col="doc_id", bin_col="payload")
    return bmp_resize_gray(images, id_col="doc_id", image_col="image", tw=8, th=8)


@register(
    "bmp_image_metadata",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(12 + (doc_id % 5) * 3 AS INTEGER) AS w,
             CAST(8 + (doc_id % 4) * 2 AS INTEGER) AS h
      FROM documents
    )
    SELECT doc_id, w AS width, h AS height,
           CAST(24 AS INTEGER) AS bpp,
           CAST((w * 3 + 3) // 4 * 4 AS INTEGER) AS stride,
           CAST(54 + ((w * 3 + 3) // 4 * 4) * h AS BIGINT) AS file_bytes,
           CAST(w * h * 3 AS BIGINT) AS pixel_bytes
    FROM dims
    """,
)
def bmp_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the image-path ffprobe: every field comes out of a real header
    # parse (magic, BITMAPINFOHEADER, bit depth, stride) and the
    # oracle recomputes them from the BMP spec's arithmetic.
    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    images = pack_bmp(docs, id_col="doc_id", bin_col="payload")
    return bmp_metadata(images, id_col="doc_id", image_col="image")


# ---------------------------------------------------------------------------
# Perceptual image near-dup (pHash) — the missing multimodal dedup:
# text dedup is deep (MinHash/SimHash/spans), image dedup composes
# two things the engine already has: the real decode + 8×8 grayscale
# (bmp_resize_gray) and the banded-hamming blocking of simhash
# (SIMHASH_BANDS + simhash_near_dup, reused verbatim — phash is just
# another 63-bit fingerprint column). bit_i = gray_i·64 > Σgray is
# exact integer arithmetic, so the oracle recomputes every hash from
# the RAW pixel bytes (same first-principles gray expression as
# resize_normalize_media) and replays the banding, hot-bucket cap,
# and exact hamming verify. Recall is exact for hamming <= 3 by the
# 4-band pigeonhole (pinned generically in test_properties). The cap
# is 50 here: zero-padded image tails make degenerate all-dark
# hashes; their buckets are dropped in BOTH engines identically.
# ---------------------------------------------------------------------------

_PHASH_HAM_MAX = 3
_PHASH_MAX_BAND_DOCS = 50


def _phash_oracle() -> str:
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(SIMHASH_BANDS)
    )
    return f"""
    WITH ipdims AS (
      SELECT doc_id, text,
             CAST(12 + (doc_id % 5) * 3 AS INTEGER) AS w,
             CAST(8 + (doc_id % 4) * 2 AS INTEGER) AS h
      FROM documents
    ),
    ipg AS (SELECT doc_id, {_gray_oracle_expr()} AS gr FROM ipdims),
    ipfp AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 63),
               i -> CASE WHEN gr[i + 1] * 64 > list_sum(gr)
                    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS phash
      FROM ipg
    ),
    ipb AS (
      SELECT doc_id, phash, band, (phash >> shift) & mask AS bv
      FROM ipfp, (VALUES {band_rows}) AS bands(band, shift, mask)
    ),
    ipc AS (
      SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn FROM ipb
    ),
    ipp AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.phash AS afp, b.phash AS bfp
      FROM ipc a JOIN ipc b USING (band, bv)
      WHERE a.doc_id < b.doc_id
        AND a.bn <= {_PHASH_MAX_BAND_DOCS}
        AND b.bn <= {_PHASH_MAX_BAND_DOCS}
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(afp, bfp)) AS INTEGER) AS hamming
    FROM ipp
    WHERE bit_count(xor(afp, bfp)) <= {_PHASH_HAM_MAX}
    """


# ---------------------------------------------------------------------------
# Incremental image-dedup probe, scored — the streaming-ingest flavor
# of image_near_dup_pairs: the corpus split's pHash band rows are
# PERSISTED (the fingerprint-agnostic banded index the SimHash path
# uses — one index implementation, two modalities), then the held-out
# batch probes it without any corpus re-decode or re-hash. The oracle
# recomputes both splits' hashes from raw pixels and replays the
# cross-split band join with the corpus-side hot-bucket cap.
# ---------------------------------------------------------------------------


def _incr_phash_oracle() -> str:
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(SIMHASH_BANDS)
    )
    return f"""
    WITH iqdims AS (
      SELECT doc_id, text,
             CAST(12 + (doc_id % 5) * 3 AS INTEGER) AS w,
             CAST(8 + (doc_id % 4) * 2 AS INTEGER) AS h
      FROM documents
    ),
    iqg AS (SELECT doc_id, {_gray_oracle_expr()} AS gr FROM iqdims),
    iqfp AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 63),
               i -> CASE WHEN gr[i + 1] * 64 > list_sum(gr)
                    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS phash
      FROM iqg
    ),
    iqb AS (
      SELECT doc_id, phash, band, (phash >> shift) & mask AS bv
      FROM iqfp, (VALUES {band_rows}) AS bands(band, shift, mask)
    ),
    iqcorp AS (
      SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn
      FROM iqb WHERE doc_id % 4 != 0
    ),
    iqp AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.phash AS afp, b.phash AS bfp
      FROM iqb a JOIN iqcorp b USING (band, bv)
      WHERE a.doc_id % 4 = 0 AND b.bn <= {_PHASH_MAX_BAND_DOCS}
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(afp, bfp)) AS INTEGER) AS hamming
    FROM iqp
    WHERE bit_count(xor(afp, bfp)) <= {_PHASH_HAM_MAX}
    """


@register("incremental_image_dedup_probe", oracle=_incr_phash_oracle())
def incremental_image_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_fingerprint_near_dup,
    )
    from exceldatatransform_py_spark.operators.multimodal import image_phash

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def hashes(split):
        return image_phash(
            pack_bmp(split, id_col="doc_id", bin_col="payload"),
            id_col="doc_id", image_col="image",
        )

    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"incimgq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_fingerprint_index(
        hashes(corpus), prefix, n_buckets=8, path=path,
        id_col="doc_id", fp_col="phash",
    )
    return incremental_fingerprint_near_dup(
        spark, prefix, hashes(batch), id_col="doc_id", fp_col="phash",
        ham_max=_PHASH_HAM_MAX, max_band_docs=_PHASH_MAX_BAND_DOCS,
    )


# ---------------------------------------------------------------------------
# Image similarity search, scored — multimodal retrieval composed
# from two verified layers: the REAL decode + 8×8 grayscale produces
# a 64-dim integer feature vector per image (the stand-in for a
# vision-encoder embedding; a deployment swaps the gray vector for
# model output, the serving structure is identical), and the exact
# fixed-point cosine top-k ranks them (cosine_topk — broadcast query
# side, zero shuffle until the |Q|·k aggregate). The oracle
# recomputes the feature vectors from raw pixel bytes and the
# identical decimal-dot ranking.
# ---------------------------------------------------------------------------


def _img_sim_oracle(p: str = "is", k: int = 5) -> str:
    """Gray-vector cosine top-k SELECT; ``p`` prefixes inner CTE
    names so the fragment composes into a larger oracle's WITH scope
    (the ``_brute_topk_sql`` convention)."""
    return f"""
    WITH {p}dims AS (
      SELECT doc_id, text,
             CAST(12 + (doc_id % 5) * 3 AS INTEGER) AS w,
             CAST(8 + (doc_id % 4) * 2 AS INTEGER) AS h
      FROM documents
    ),
    {p}g AS (SELECT doc_id, {_gray_oracle_expr()} AS gvec FROM {p}dims),
    {p}q AS (SELECT doc_id AS query_id, gvec AS qv FROM {p}g WHERE doc_id < 10),
    {p}c AS (SELECT doc_id AS neighbor_id, gvec AS cv FROM {p}g),
    {p}s AS (
      SELECT query_id, neighbor_id, {_COSINE} AS cosine
      FROM {p}q, {p}c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM {p}s
    QUALIFY rk <= {k}
    """


@register("image_similarity_topk", oracle=_img_sim_oracle())
def image_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    gray = bmp_resize_gray(
        pack_bmp(docs, id_col="doc_id", bin_col="payload"),
        id_col="doc_id", image_col="image", tw=8, th=8,
    )
    corpus = gray.select("doc_id", F.col("gray").alias("gvec"))
    return cosine_topk(
        corpus.filter(F.col("doc_id") < 10), corpus,
        id_col="doc_id", vec_col="gvec", k=5,
    )


@register("image_near_dup_pairs", oracle=_phash_oracle())
def image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.dedup import simhash_near_dup
    from exceldatatransform_py_spark.operators.multimodal import image_phash

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    images = pack_bmp(docs, id_col="doc_id", bin_col="payload")
    fp = image_phash(images, id_col="doc_id", image_col="image")
    return simhash_near_dup(
        fp,
        id_col="doc_id",
        fp_col="phash",
        ham_max=_PHASH_HAM_MAX,
        max_band_docs=_PHASH_MAX_BAND_DOCS,
    )


@register(
    "wav_audio_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, length(text) AS n,
             list_sum(list_transform(range(1, length(text) + 1),
               j -> CAST(({_PIX.format(j="j")} - 128) * 256 AS BIGINT)
                    * (({_PIX.format(j="j")} - 128) * 256))) AS sum_sq,
             list_max(list_transform(range(1, length(text) + 1),
               j -> abs(({_PIX.format(j="j")} - 128) * 256))) AS peak
      FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_frames,
           CAST(8000 AS INTEGER) AS framerate,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(peak AS INTEGER) AS peak,
           CAST(sum_sq AS BIGINT) AS sum_sq,
           sqrt(CAST(sum_sq AS DOUBLE) / CAST(n AS DOUBLE)) AS rms
    FROM s
    """,
)
def wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the audio path end-to-end: bytes → s16 PCM → real RIFF/WAV file
    # (stdlib wave writer) → decode (chunk parse) → sample statistics.
    # Frame count and rate come from the RIFF headers; peak/energy/RMS
    # from the decoded samples — the oracle recomputes all of it from
    # the raw bytes and the u8→s16 widening rule.
    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    audio = pack_wav(docs, id_col="doc_id", bin_col="payload")
    return wav_stats(audio, id_col="doc_id", audio_col="audio")


# ---------------------------------------------------------------------------
# Audio near-dup (energy-delta fingerprint) — completes the near-dup
# modality matrix (text: MinHash/SimHash, image: pHash, audio: this,
# video: below): decode the real WAV, pool sample energy into 64
# equal spans, fingerprint the delta signs (exact int64 end-to-end —
# multimodal.audio_fingerprint), and pair through the SAME banded
# hamming blocking every other 63-bit fingerprint uses. The oracle
# recomputes every fingerprint from the raw bytes (u8→s16 widening,
# span floor map, squared-sample sums) and replays the banding,
# hot-bucket cap, and exact hamming verify.
# ---------------------------------------------------------------------------

_AFP_HAM_MAX = 3
_AFP_MAX_BAND_DOCS = 50
#: fixed-duration excerpt (16 ms at 8 kHz): whole-clip fingerprints
#: are alignment-sensitive — the corpus's near-dups share a long
#: prefix then diverge, and a full-length fingerprint finds ZERO of
#: them (measured); the 128-sample excerpt finds 24 of the 25
#: prefix-sharing pairs at both test SFs.
_AFP_WINDOW = 128

#: DuckDB list of the 64 span energies of the u8→s16 PCM samples —
#: spans are [s·n//64, (s+1)·n//64) in 0-based sample positions, the
#: same floor map the engine uses; empty spans are energy 0.
_AFP_ES = (
    "list_transform(range(0, 64), s -> COALESCE(list_sum("
    "list_transform(range(s * n // 64, (s + 1) * n // 64), "
    "j -> CAST(({pix} - 128) * 256 AS BIGINT) * (({pix} - 128) * 256)"
    ")), 0))"
).format(pix=_PIX.format(j="(j + 1)"))

#: 63-bit delta-sign fingerprint over a 64-long energy list ``{es}``.
_FP_FROM_ES = (
    "COALESCE(list_sum(list_transform(range(0, 63), "
    "i -> CASE WHEN {es}[CAST(i AS INTEGER) + 2] > "
    "{es}[CAST(i AS INTEGER) + 1] "
    "THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)), 0)"
)


def _band_pairs_sql(p: str, fp_cte: str, ham_max: int, cap: int) -> str:
    """Banding + hot-bucket cap + exact-hamming SELECT over a CTE
    ``fp_cte`` with columns ``(doc_id, fp)`` — the oracle twin of
    ``dedup.simhash_near_dup`` for any 63-bit fingerprint."""
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(SIMHASH_BANDS)
    )
    return f"""
    {p}b AS (
      SELECT doc_id, fp, band, (fp >> shift) & mask AS bv
      FROM {fp_cte}, (VALUES {band_rows}) AS bands(band, shift, mask)
    ),
    {p}c AS (
      SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn FROM {p}b
    ),
    {p}p AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.fp AS afp, b.fp AS bfp
      FROM {p}c a JOIN {p}c b USING (band, bv)
      WHERE a.doc_id < b.doc_id AND a.bn <= {cap} AND b.bn <= {cap}
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(afp, bfp)) AS INTEGER) AS hamming
    FROM {p}p
    WHERE bit_count(xor(afp, bfp)) <= {ham_max}
    """


#: complete audio-pairs oracle (also nests as a CTE subquery in the
#: cross-modal composition below).
_AUDIO_PAIRS_ORACLE = f"""
    WITH an AS (SELECT doc_id, text,
                least(length(text), {_AFP_WINDOW}) AS n FROM documents),
    aes AS (SELECT doc_id, {_AFP_ES} AS es FROM an),
    afpt AS (SELECT doc_id, {_FP_FROM_ES.format(es="es")} AS fp FROM aes),
    {_band_pairs_sql("anp", "afpt", _AFP_HAM_MAX, _AFP_MAX_BAND_DOCS)}
    """


@register("audio_near_dup_pairs", oracle=_AUDIO_PAIRS_ORACLE)
def audio_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.dedup import simhash_near_dup
    from exceldatatransform_py_spark.operators.multimodal import (
        audio_fingerprint,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    audio = pack_wav(docs, id_col="doc_id", bin_col="payload")
    fp = audio_fingerprint(
        audio, id_col="doc_id", audio_col="audio",
        window_samples=_AFP_WINDOW,
    )
    return simhash_near_dup(
        fp,
        id_col="doc_id",
        fp_col="afp",
        ham_max=_AFP_HAM_MAX,
        max_band_docs=_AFP_MAX_BAND_DOCS,
    )


@register(
    "incremental_audio_dedup_probe",
    oracle=f"""
    WITH an AS (SELECT doc_id, text,
                least(length(text), {_AFP_WINDOW}) AS n FROM documents),
    aes AS (SELECT doc_id, {_AFP_ES} AS es FROM an),
    afpt AS (SELECT doc_id, {_FP_FROM_ES.format(es="es")} AS fp FROM aes),
    iab AS (
      SELECT doc_id, fp, band, (fp >> shift) & mask AS bv
      FROM afpt, (VALUES {", ".join(
          f"({i}, {shift}, {(1 << width) - 1})"
          for i, (shift, width) in enumerate(SIMHASH_BANDS)
      )}) AS bands(band, shift, mask)
    ),
    iacorp AS (
      SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn
      FROM iab WHERE doc_id % 4 != 0
    ),
    iap AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.fp AS afp, b.fp AS bfp
      FROM iab a JOIN iacorp b USING (band, bv)
      WHERE a.doc_id % 4 = 0 AND b.bn <= {_AFP_MAX_BAND_DOCS}
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(afp, bfp)) AS INTEGER) AS hamming
    FROM iap
    WHERE bit_count(xor(afp, bfp)) <= {_AFP_HAM_MAX}
    """,
)
def incremental_audio_dedup_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming-ingest flavor of ``audio_near_dup_pairs``: the corpus
    split's fingerprint band rows are PERSISTED through the
    fingerprint-agnostic banded index (one implementation, three
    modalities now), then the held-out batch probes it without any
    corpus re-decode."""
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_fingerprint_near_dup,
    )
    from exceldatatransform_py_spark.operators.multimodal import (
        audio_fingerprint,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def hashes(split):
        return audio_fingerprint(
            pack_wav(split, id_col="doc_id", bin_col="payload"),
            id_col="doc_id", audio_col="audio",
            window_samples=_AFP_WINDOW,
        )

    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"incaudq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_fingerprint_index(
        hashes(corpus), prefix, n_buckets=8, path=path,
        id_col="doc_id", fp_col="afp",
    )
    return incremental_fingerprint_near_dup(
        spark, prefix, hashes(batch), id_col="doc_id", fp_col="afp",
        ham_max=_AFP_HAM_MAX, max_band_docs=_AFP_MAX_BAND_DOCS,
    )


#: DuckDB list of frame 0's 48 scan-order pixel grays: encode+decode
#: round-trips (the stride/flip/BGR transforms cancel), so decoded
#: pixel m's bytes are raw chunk offsets 3m..3m+2 and its gray
#: r + g + b is their sum; zero padding past the text contributes 0.
_VFP_GS = (
    "list_transform(range(0, 48), m -> COALESCE(list_sum("
    "list_transform(range(m * 3, m * 3 + 3), "
    "j -> CAST({pix} AS BIGINT))), 0))"
).format(pix=_PIX.format(j="(j + 1)"))

#: 47-bit gradient-sign fingerprint over the 48-long gray list.
_VFP_FROM_GS = (
    "COALESCE(list_sum(list_transform(range(0, 47), "
    "i -> CASE WHEN gs[CAST(i AS INTEGER) + 2] > "
    "gs[CAST(i AS INTEGER) + 1] "
    "THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)), 0)"
)


#: complete video-pairs oracle (also nests in the cross-modal
#: composition below).
_VIDEO_PAIRS_ORACLE = f"""
    WITH vg AS (SELECT doc_id, {_VFP_GS} AS gs FROM documents),
    vfpt AS (SELECT doc_id, {_VFP_FROM_GS} AS fp FROM vg),
    {_band_pairs_sql("vnp", "vfpt", _AFP_HAM_MAX, _AFP_MAX_BAND_DOCS)}
    """


@register("video_near_dup_pairs", oracle=_VIDEO_PAIRS_ORACLE)
def video_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe video near-dup: demux the SVC container, decode frame
    0 through the real BMP codec, fingerprint the gradient signs of
    its 48 scan-order pixel grays (multimodal.video_fingerprint), and
    pair through the shared banded index. The oracle recomputes every
    gray from the raw chunk bytes via the bottom-up row position map
    and replays banding, cap, and the exact hamming verify."""
    from exceldatatransform_py_spark.operators.dedup import simhash_near_dup
    from exceldatatransform_py_spark.operators.multimodal import (
        pack_video,
        video_fingerprint,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    video = pack_video(docs, id_col="doc_id", bin_col="payload")
    fp = video_fingerprint(video, id_col="doc_id", video_col="video")
    return simhash_near_dup(
        fp,
        id_col="doc_id",
        fp_col="vfp",
        ham_max=_AFP_HAM_MAX,
        max_band_docs=_AFP_MAX_BAND_DOCS,
    )


# ---------------------------------------------------------------------------
# CROSS-MODAL dedup composition — what a real curation pipeline runs
# on top of the four per-modality pair generators: a document is a
# duplicate if ANY modality says so, so the edges of all four (text
# SimHash, image pHash, audio energy-delta, video keyframe dHash)
# union into ONE graph and connected components picks one canonical
# doc per cluster (the min id — `dedup_cluster_assign`'s modality-
# blind CC, fed the union). The oracle nests each modality's full
# pair oracle as a CTE subquery and replays the union + a recursive
# transitive closure. Scale shape: each edge generator is the
# already-banded (never all-pairs) join; the union is O(pairs); CC is
# the O(log n)-round pointer-doubling loop.
# ---------------------------------------------------------------------------


def _cross_modal_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The union of all four modality near-dup edge sets (text
    SimHash, image pHash, audio energy-delta, video keyframe dHash)
    — shared by the cluster query and the v4 curation pipeline."""
    from exceldatatransform_py_spark.operators.dedup import simhash_near_dup
    from exceldatatransform_py_spark.operators.multimodal import (
        audio_fingerprint,
        image_phash,
        pack_video,
        video_fingerprint,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    tpairs = simhash_near_dup(
        simhash64(docs, id_col="doc_id", text_col="text"),
        id_col="doc_id", fp_col="simhash",
        ham_max=_SIMHASH_HAM_MAX, max_band_docs=_SIMHASH_MAX_BAND_DOCS,
    )
    ipairs = simhash_near_dup(
        image_phash(
            pack_bmp(payload, id_col="doc_id", bin_col="payload"),
            id_col="doc_id", image_col="image",
        ),
        id_col="doc_id", fp_col="phash",
        ham_max=_PHASH_HAM_MAX, max_band_docs=_PHASH_MAX_BAND_DOCS,
    )
    apairs = simhash_near_dup(
        audio_fingerprint(
            pack_wav(payload, id_col="doc_id", bin_col="payload"),
            id_col="doc_id", audio_col="audio",
            window_samples=_AFP_WINDOW,
        ),
        id_col="doc_id", fp_col="afp",
        ham_max=_AFP_HAM_MAX, max_band_docs=_AFP_MAX_BAND_DOCS,
    )
    vpairs = simhash_near_dup(
        video_fingerprint(
            pack_video(payload, id_col="doc_id", bin_col="payload"),
            id_col="doc_id", video_col="video",
        ),
        id_col="doc_id", fp_col="vfp",
        ham_max=_AFP_HAM_MAX, max_band_docs=_AFP_MAX_BAND_DOCS,
    )
    return (
        tpairs.select("a_id", "b_id")
        .unionByName(ipairs.select("a_id", "b_id"))
        .unionByName(apairs.select("a_id", "b_id"))
        .unionByName(vpairs.select("a_id", "b_id"))
        .distinct()
    )



@register(
    "cross_modal_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    xtp AS ({_simhash_pairs_oracle()}),
    xip AS ({_phash_oracle()}),
    xap AS ({_AUDIO_PAIRS_ORACLE}),
    xvp AS ({_VIDEO_PAIRS_ORACLE}),
    xedges AS (
      SELECT a_id, b_id FROM xtp
      UNION SELECT a_id, b_id FROM xip
      UNION SELECT a_id, b_id FROM xap
      UNION SELECT a_id, b_id FROM xvp
    ),
    xsym(s, d) AS (
      SELECT a_id, b_id FROM xedges
      UNION ALL
      SELECT b_id, a_id FROM xedges
    ),
    xreach(v, r) AS (
      SELECT s, d FROM xsym
      UNION
      SELECT xreach.v, xsym.d FROM xreach JOIN xsym ON xreach.r = xsym.s
    ),
    xcc AS (SELECT v, least(v, min(r)) AS cluster_id FROM xreach GROUP BY v),
    xasg AS (
      SELECT d.doc_id, COALESCE(xcc.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN xcc ON d.doc_id = xcc.v
    )
    SELECT doc_id, cluster_id,
           doc_id = cluster_id AS is_canonical,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM xasg
    """,
)
def cross_modal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.dedup import (
        connected_components,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    edges = _cross_modal_edges(spark, sf_dir)
    cc = connected_components(
        edges, src="a_id", dst="b_id", nodes=docs, node_col="doc_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return cc.select(F.col("v").alias("doc_id"), "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# IVF ANN — the other scale path next to hyperplane LSH: coarse
# quantizer (nearest centroid) partitions the corpus into cells;
# queries probe only their n_probe nearest cells. Centroids here are
# the first 8 vectors (deterministic stand-in for offline k-means —
# the serving structure is what's scored).
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.operators.similarity import ivf_topk  # noqa: E402


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DEC_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DEC_DOT.format(a=a, b=a)}) * sqrt({_DEC_DOT.format(a=b, b=b)}))"
    )


def _ivf_body(p: str, cents: str) -> str:
    """IVF assign/probe/score CTEs + final top-5 SELECT over an
    existing centroid CTE ``cents`` with columns ``(cid, cvec)``;
    ``p`` prefixes inner CTE names (see ``_brute_topk_sql``)."""
    return f"""
    {p}asg AS (
      SELECT neighbor_id, cell FROM (
        SELECT e.vec_id AS neighbor_id, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS ark
        FROM embeddings e, {cents} c
      ) WHERE ark = 1
    ),
    {p}probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid
               ) AS prk
        FROM embeddings q, {cents} c WHERE q.vec_id < 10
      ) WHERE prk <= 2
    ),
    {p}s AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             {_cos_sql('p.qv', 'e.embedding')} AS cosine
      FROM {p}probes p
      JOIN {p}asg a USING (cell)
      JOIN embeddings e ON e.vec_id = a.neighbor_id
      WHERE p.query_id != e.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM {p}s
    QUALIFY rk <= 5
    """


def _ivf_oracle(p: str = "") -> str:
    """Standalone IVF-top-5 SELECT with the fixed first-8 centroids
    (deterministic stand-in for an offline-trained quantizer)."""
    return f"""
    WITH {p}cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ),{_ivf_body(p, f"{p}cents")}"""


@register("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, centroids,
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
    )


# ---------------------------------------------------------------------------
# ANN quality measurement: recall@5 of both approximate paths against
# the exact brute-force top-5 on the same query set. An ANN path
# without a measured recall number is unfalsifiable; and because both
# ANN paths are deterministic (literal planes / fixed centroids), the
# recall itself is deterministic and FULLY oracle-checked — the DuckDB
# twin recomputes exact, LSH, and IVF top-5 and the identical ratio.
# `meets_floor` pins the quality gate (also asserted in pytest):
# recall below the method's floor flips the boolean in both engines
# and fails the local floor test. Floors sit below the observed minima
# across sf0.001/0.01/0.1 with margin (ivf 0.80-0.90 observed; lsh
# 0.38-0.56 with hamming-1 multi-probe).
# ---------------------------------------------------------------------------

_ANN_RECALL_FLOORS = {"ivf": 0.7, "lsh": 0.3}


@register(
    "ann_recall_at_k",
    oracle=f"""
    WITH rex AS ({_brute_topk_sql('x')}),
    rl AS ({_ann_oracle('l')}),
    ri AS ({_ivf_oracle('v')}),
    rexn AS (SELECT COUNT(*) AS n_exact FROM rex),
    lh AS (SELECT COUNT(*) AS n_hits
           FROM rl JOIN rex USING (query_id, neighbor_id)),
    ih AS (SELECT COUNT(*) AS n_hits
           FROM ri JOIN rex USING (query_id, neighbor_id))
    SELECT 'ivf' AS method,
           CAST(n_hits AS DOUBLE) / n_exact AS recall_at_k,
           CAST(n_hits AS DOUBLE) / n_exact >= {_ANN_RECALL_FLOORS["ivf"]} AS meets_floor
    FROM ih, rexn
    UNION ALL
    SELECT 'lsh' AS method,
           CAST(n_hits AS DOUBLE) / n_exact AS recall_at_k,
           CAST(n_hits AS DOUBLE) / n_exact >= {_ANN_RECALL_FLOORS["lsh"]} AS meets_floor
    FROM lh, rexn
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.similarity import _norm

    # ONE staged corpus serves all three searches: the parquet array
    # decode and the O(dim) norm pass run once (persisted), not once
    # per method — the measurement query stops paying for its
    # baseline's staging three times. norm_col wiring keeps results
    # bit-identical to the unstaged form. fan_out: the testdata file
    # is a single row group, and without it every interpreted-HOF
    # scoring pass over the persisted corpus runs as ONE task.
    emb = (
        read_table(spark, sf_dir, "embeddings", fan_out=True)
        .select("vec_id", "embedding", _norm(F.col("embedding")).alias("__n"))
        .persist()
    )
    queries = emb.filter(F.col("vec_id") < 10)
    # The exact top-5 is the shared ground truth for both methods and
    # for the totals row — persist its ~50 rows so the brute-force
    # scoring runs once, not three times. LAZY persist (not an eager
    # localCheckpoint): all consumers live in one final job, and the
    # extra blocking materialization job cost ~0.5-0.9s of pure
    # scheduling at sf0.1; cache-lock semantics make the lazy race
    # safe (first task computes a partition, others read it).
    exact = (
        cosine_topk(
            queries, emb, id_col="vec_id", vec_col="embedding",
            k=5, norm_col="__n",
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    lsh = hyperplane_lsh_topk(
        queries, emb, id_col="vec_id", vec_col="embedding",
        k=5, dim=64, n_planes=4, seed=42, norm_col="__n",
    )
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    ivf = ivf_topk(
        queries, emb, centroids, id_col="vec_id", vec_col="embedding",
        k=5, n_probe=2, norm_col="__n",
    )

    def method_row(ann: DataFrame, name: str) -> DataFrame:
        hits = (
            ann.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        recall = F.col("n_hits").cast("double") / F.col("n_exact")
        # broadcast-scalar cross join (1 row x 1 row), same pattern as
        # the share-of-total queries — never a data-sized cartesian.
        return hits.crossJoin(n_exact).select(
            F.lit(name).alias("method"),
            recall.alias("recall_at_k"),
            (recall >= F.lit(_ANN_RECALL_FLOORS[name])).alias("meets_floor"),
        )

    return method_row(ivf, "ivf").unionByName(method_row(lsh, "lsh"))


# ---------------------------------------------------------------------------
# The composite training-data pipeline, end-to-end in ONE lazy plan:
# token-count filter → exact dedup (keep lowest doc id) → per-language
# corpus stats. Each stage is the already-scored operator; the
# composition is what a real ingest job runs.
# ---------------------------------------------------------------------------

_P_TOKS = _TOKS.format(col="text")


@register(
    "training_pipeline_summary",
    oracle=rf"""
    WITH keep AS (
      SELECT doc_id, lang, n_chars, text, len({_P_TOKS}) AS n_tok
      FROM documents
      WHERE len({_P_TOKS}) >= 40
    ),
    ded AS (
      SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS dig
        FROM keep
      ) GROUP BY dig
    )
    SELECT k.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(k.n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(k.n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM keep k JOIN ded USING (doc_id)
    GROUP BY k.lang
    """,
)
def training_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    keep = docs.select(
        "doc_id", "lang", "n_chars", "text",
        F.size(ws_tokens("text")).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") >= 40)
    winners = (
        keep.select("doc_id", F.md5(normalize_text("text")).alias("dig"))
        .groupBy("dig")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    final = keep.join(winners, "doc_id", "left_semi")
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Dedup clustering — near-dup PAIRS (MinHash) → dedup GROUPS via
# connected components (iterative min-label propagation on Spark; a
# recursive-CTE transitive closure in the oracle — exact value parity
# for an iterative distributed algorithm). Every document gets a
# cluster id; singletons are their own cluster.
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_assign",
    oracle=_mh_oracle(recursive=True)
    + """,
    sym(s, d) AS (
      SELECT id_a, id_b FROM mh
      UNION ALL
      SELECT id_b, id_a FROM mh
    ),
    reach(v, r) AS (
      SELECT s, d FROM sym
      UNION
      SELECT reach.v, sym.d FROM reach JOIN sym ON reach.r = sym.s
    ),
    cc AS (SELECT v, least(v, min(r)) AS cluster_id FROM reach GROUP BY v)
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.v
    """,
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    pairs = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", n=3, k=_MH_K, bands=_MH_BANDS,
        threshold=0.5,
    )
    cc = connected_components(
        pairs, src="id_a", dst="id_b", nodes=docs, node_col="doc_id"
    )
    return cc.select(F.col("v").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# Intra-document repetition — 1 - distinct/total n-gram windows. High
# ratio = boilerplate/looping text; a standard corpus-quality filter.
# ---------------------------------------------------------------------------


@register(
    "doc_repetition_ratio",
    oracle=f"""
    WITH {_HASHED_INV},
    per_doc AS (SELECT DISTINCT doc_id, n_sh FROM inv),
    nt AS (SELECT doc_id, len({_FP_TOKS}) AS n_tok FROM documents)
    SELECT nt.doc_id,
           CAST(nt.n_tok AS BIGINT) AS n_tok,
           CAST(p.n_sh AS BIGINT) AS n_distinct_shingles,
           1.0 - CAST(p.n_sh AS DOUBLE)
                 / CAST(greatest(nt.n_tok - 2, 1) AS DOUBLE) AS rep_ratio
    FROM nt JOIN per_doc p ON nt.doc_id = p.doc_id
    """,
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, id_col="doc_id", text_col="text", n=3)
    per_doc = inv.select("doc", "n_sh").distinct()
    nt = docs.select(
        "doc_id", F.size(ws_tokens("text")).cast("bigint").alias("n_tok")
    )
    windows = F.greatest(F.col("n_tok") - 2, F.lit(1).cast("bigint"))
    return nt.join(per_doc, nt.doc_id == per_doc.doc).select(
        "doc_id",
        "n_tok",
        F.col("n_sh").cast("bigint").alias("n_distinct_shingles"),
        (
            F.lit(1.0)
            - F.col("n_sh").cast("double") / windows.cast("double")
        ).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# Benchmark contamination — shingle overlap between the training split
# and a held-out "benchmark" subset (5% by content hash of the id).
# A train doc is contaminated if it shares a large fraction of its
# shingles with any benchmark doc. Plan: one persisted inverted index,
# flagged and self-joined train x bench on the shingle key.
# ---------------------------------------------------------------------------

_BENCH_FLAG = (
    "CAST(concat('0x', substr(md5(concat('9:', CAST(doc_id AS VARCHAR))), 1, 8)) "
    "AS BIGINT) % 20 = 0"
)


@register(
    "contamination_overlap",
    oracle=f"""
    WITH {_HASHED_INV},
    flags AS (SELECT doc_id, {_BENCH_FLAG} AS is_bench FROM documents),
    fi AS (
      SELECT i.doc_id, i.n_sh, i.h, i.g, f.is_bench
      FROM inv i JOIN flags f ON i.doc_id = f.doc_id
    ),
    hits AS (
      SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc,
             a.n_sh AS n_train, count(*) AS common
      FROM fi a JOIN fi b ON a.h = b.h AND a.g = b.g
      WHERE NOT a.is_bench AND b.is_bench
      GROUP BY 1, 2, 3
    ),
    strong AS (
      SELECT train_doc, bench_doc,
             CAST(common AS DOUBLE) / CAST(n_train AS DOUBLE) AS frac
      FROM hits
      WHERE CAST(common AS DOUBLE) / CAST(n_train AS DOUBLE) >= 0.2
    )
    SELECT train_doc, COUNT(*) AS n_bench_hits, max(frac) AS max_frac
    FROM strong GROUP BY train_doc
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, id_col="doc_id", text_col="text", n=3)
    is_bench = md5_hash32(F.col("doc_id"), seed=9) % 20 == 0
    flags = docs.select("doc_id", is_bench.alias("is_bench"))
    fi = inv.join(flags, inv.doc == flags.doc_id).select(
        "doc", "n_sh", "h", "g", "is_bench"
    )
    a = fi.filter(~F.col("is_bench")).select(
        F.col("doc").alias("train_doc"), F.col("n_sh").alias("n_train"), "h", "g"
    )
    b = fi.filter(F.col("is_bench")).select(F.col("doc").alias("bench_doc"), "h", "g")
    hits = (
        a.join(b, ["h", "g"])
        .groupBy("train_doc", "bench_doc", "n_train")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    frac = F.col("common").cast("double") / F.col("n_train").cast("double")
    strong = hits.withColumn("frac", frac).filter(F.col("frac") >= 0.2)
    return strong.groupBy("train_doc").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.max("frac").alias("max_frac"),
    )


# ---------------------------------------------------------------------------
# Canonical-document selection — the step after dedup clustering: from
# every near-dup cluster keep the highest-quality member (ties → min
# doc_id). Composite of the whole LLM-dedup stack: MinHash-LSH pairs →
# connected components → quality scoring → one ranked window per
# cluster. This is the "which copy do we train on" decision a corpus
# pipeline makes at 100 TB; everything after the (tiny) pair edges is
# a single cluster_id-partitioned shuffle.
# ---------------------------------------------------------------------------


@register(
    "canonical_doc_per_cluster",
    oracle=_mh_oracle(recursive=True)
    + f""",
    sym(s, d) AS (
      SELECT id_a, id_b FROM mh
      UNION ALL
      SELECT id_b, id_a FROM mh
    ),
    reach(v, r) AS (
      SELECT s, d FROM sym
      UNION
      SELECT reach.v, sym.d FROM reach JOIN sym ON reach.r = sym.s
    ),
    cc AS (SELECT v, least(v, min(r)) AS cluster_id FROM reach GROUP BY v),
    assign AS (
      SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.v
    ),
    qt AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
             CAST({_stop_hits(_QTOKS, "en")} AS BIGINT) AS n_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             CAST(n_chars >= 50 AND n_chars <= 10000 AS DOUBLE) * 0.4
             + CAST(CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) >= 2.0
                    AND CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) <= 12.0
                    AS DOUBLE) * 0.3
             + least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 3.0, 1.0) * 0.2
             + least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) * 20.0, 1.0) * 0.1
             AS quality
      FROM qt
    ),
    ranked AS (
      SELECT a.cluster_id, a.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY a.cluster_id
                                ORDER BY q.quality DESC, a.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY a.cluster_id) AS n_docs
      FROM assign a JOIN q ON a.doc_id = q.doc_id
    )
    SELECT cluster_id, doc_id AS canonical_doc_id, quality, n_docs
    FROM ranked WHERE rn = 1
    """,
)
def canonical_doc_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    pairs = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", n=3, k=_MH_K, bands=_MH_BANDS,
        threshold=0.5,
    )
    cc = connected_components(
        pairs, src="id_a", dst="id_b", nodes=docs, node_col="doc_id"
    )
    assign = docs.join(
        cc.select(F.col("v").alias("doc_id"), "cluster_id"), "doc_id"
    ).select("doc_id", "text", "cluster_id")
    toks = ws_tokens(F.lower(F.col("text")))
    staged = assign.select(
        "doc_id",
        "cluster_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        punct_count("text").cast("long").alias("n_punct"),
        stopword_hits(toks, "en").cast("long").alias("n_stop"),
    )
    q = staged.select(
        "doc_id",
        "cluster_id",
        quality_score(
            F.col("n_chars"), F.col("n_tokens"), F.col("n_punct"), F.col("n_stop")
        ).alias("quality"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = q.select(
        "cluster_id",
        "doc_id",
        "quality",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("n_docs"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        "quality",
        "n_docs",
    )


# ---------------------------------------------------------------------------
# Training-data chunking: split each document into token windows of
# CHUNK tokens with OVERLAP-token overlap (stride = CHUNK - OVERLAP) —
# the standard context-window preparation step. Pure expressions:
# sequence() generates start offsets, posexplode fans out, slice +
# array_join build each chunk; no shuffle at all (map-side fan-out,
# like the reference's unpivot).
# ---------------------------------------------------------------------------

_CHUNK, _OVERLAP = 50, 10
_STRIDE = _CHUNK - _OVERLAP


@register(
    "doc_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_FP_TOKS} AS toks FROM documents
    ),
    sized AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           CAST((s.start - 1) / {_STRIDE} AS BIGINT) AS chunk_id,
           CAST(least(CAST({_CHUNK} AS BIGINT), n - s.start + 1) AS BIGINT) AS n_tok,
           array_to_string(list_slice(toks, s.start, s.start + {_CHUNK - 1}), ' ') AS chunk
    FROM sized, LATERAL (SELECT unnest(range(1, CAST(n AS BIGINT) + 1, {_STRIDE})) AS start) s
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    toks = ws_tokens("text")
    sized = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    ).filter(F.col("n") > 0)
    starts = F.sequence(F.lit(1), F.col("n"), F.lit(_STRIDE))
    ex = sized.select(
        "doc_id", "toks", "n", F.explode(starts).alias("start")
    )
    return ex.select(
        "doc_id",
        ((F.col("start") - 1) / _STRIDE).cast("bigint").alias("chunk_id"),
        F.least(
            F.lit(_CHUNK).cast("bigint"), (F.col("n") - F.col("start") + 1).cast("bigint")
        ).alias("n_tok"),
        F.array_join(F.slice(F.col("toks"), F.col("start"), _CHUNK), " ").alias(
            "chunk"
        ),
    )


# ---------------------------------------------------------------------------
# Context-length packing: assign documents to fixed-capacity bins by
# running token count. Scale shape: a global sequential pack would be
# one partition — instead docs are hash-bucketed first and each bucket
# packs independently (deterministic, embarrassingly parallel, and the
# standard practice for sharded training data). bin = bucket-local
# floor(preceding-tokens / capacity); a doc may straddle its bin
# boundary (streaming fill, no fragmentation).
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 2048
_PACK_BUCKETS = 16


@register(
    "pack_documents_into_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('11:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % {_PACK_BUCKETS} AS bucket,
             CAST(len({_FP_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    runs AS (
      SELECT bucket, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_tok
      FROM t
    )
    SELECT bucket,
           CAST(before_tok // {_PACK_CAPACITY} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM runs GROUP BY bucket, CAST(before_tok // {_PACK_CAPACITY} AS BIGINT)
    """,
)
def pack_documents_into_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (md5_hash32(F.col("doc_id"), seed=11) % _PACK_BUCKETS).alias("bucket"),
        F.size(ws_tokens("text")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = t.select(
        "bucket",
        "doc_id",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("before_tok"),
    )
    binned = runs.select(
        "bucket",
        F.expr(f"before_tok div {_PACK_CAPACITY}").cast("bigint").alias("bin_id"),
        "n_tok",
    )
    return binned.groupBy("bucket", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# k-means over embeddings — an ITERATIVE algorithm with a full-value
# oracle: fixed-point arithmetic makes every assignment decision
# engine-exact, so the DuckDB twin simply unrolls the Lloyd iterations
# as CTEs (see operators.clustering for the determinism argument).
# ---------------------------------------------------------------------------

_KM_K, _KM_ITERS, _KM_SCALE = 8, 3, 1_000_000


_KM_D2 = (
    "CAST(list_sum(list_transform(range(1, len(p.xs) + 1), "
    "i -> (p.xs[i] - c.cs[i]) * (p.xs[i] - c.cs[i]))) AS BIGINT)"
)


def _km_round(t: int) -> str:
    """One assignment round: score every point against c{t-1}, keep
    the (d2, cid)-lexicographic argmin."""
    return f""",
    s{t} AS (SELECT p.vec_id, c.cid, {_KM_D2} AS d2 FROM pts p CROSS JOIN c{t - 1} c),
    a{t} AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM s{t})
      WHERE rn = 1
    )"""


def _kmeans_train_ctes(k: int = _KM_K, iters: int = _KM_ITERS,
                       scale: int = _KM_SCALE) -> str:
    """CTE chain (no WITH keyword) ending at the trained centroids
    ``c{iters - 1}`` — mirrors ``operators.clustering._lloyd``'s
    ``iters - 1`` update steps."""
    parts = [
        f"""pts AS (
      SELECT vec_id,
             list_transform(embedding,
               e -> CAST(floor(CAST(e AS DOUBLE) * {scale}.0) AS BIGINT)) AS xs
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, xs AS cs FROM pts WHERE vec_id < {k})"""
    ]
    for t in range(1, iters):
        parts.append(_km_round(t))
        parts.append(f""",
    e{t} AS (
      SELECT a.cid, unnest(range(1, len(p.xs) + 1)) AS i, unnest(p.xs) AS x
      FROM a{t} a JOIN pts p ON a.vec_id = p.vec_id
    ),
    m{t} AS (
      SELECT cid, i,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
      FROM e{t} GROUP BY cid, i
    ),
    c{t} AS (SELECT cid, list(cx ORDER BY i) AS cs FROM m{t} GROUP BY cid)""")
    return "".join(parts)


def _kmeans_oracle(k: int = _KM_K, iters: int = _KM_ITERS,
                   scale: int = _KM_SCALE) -> str:
    return (
        "\n    WITH "
        + _kmeans_train_ctes(k, iters, scale)
        + _km_round(iters)
        + f"\n    SELECT vec_id, cid AS cluster_id, d2 AS sqdist FROM a{iters}"
    )


@register("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_assign(
        emb, id_col="vec_id", vec_col="embedding",
        k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
    )


# ---------------------------------------------------------------------------
# Common-shingle fraction — the CCNet-style boilerplate signal: how
# much of a document's shingle set occurs in many other documents.
# One document-frequency aggregate over the persisted inverted index,
# then a semi-join back; shuffle keys are the 16-byte (h, g) pairs,
# never text. High-fraction docs are templated/boilerplate content a
# corpus pipeline down-weights before training.
# ---------------------------------------------------------------------------

_COMMON_SHINGLE_MIN_DF = 3


@register(
    "common_shingle_fraction",
    oracle=f"""
    WITH {_HASHED_INV},
    df_ AS (
      SELECT h, g FROM inv GROUP BY h, g
      HAVING count(*) >= {_COMMON_SHINGLE_MIN_DF}
    ),
    hits AS (
      SELECT i.doc_id, count(*) AS n_common
      FROM inv i JOIN df_ USING (h, g)
      GROUP BY i.doc_id
    ),
    base AS (SELECT DISTINCT doc_id, n_sh FROM inv)
    SELECT b.doc_id,
           CAST(b.n_sh AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_common, 0) AS BIGINT) AS n_common,
           CAST(COALESCE(h.n_common, 0) AS DOUBLE)
             / CAST(b.n_sh AS DOUBLE) AS common_frac
    FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id
    """,
)
def common_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, id_col="doc_id", text_col="text", n=3)
    common = (
        inv.groupBy("h", "g")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") >= _COMMON_SHINGLE_MIN_DF)
        .select("h", "g")
    )
    hits = (
        inv.join(common, ["h", "g"], "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    base = inv.select("doc", "n_sh").distinct()
    return base.join(hits, "doc", "left").select(
        F.col("doc").alias("doc_id"),
        F.col("n_sh").cast("bigint").alias("n_shingles"),
        F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
        (
            F.coalesce("n_common", F.lit(0)).cast("double")
            / F.col("n_sh").cast("double")
        ).alias("common_frac"),
    )


# ---------------------------------------------------------------------------
# IVF with a k-means-TRAINED coarse quantizer — the composition a real
# vector index ships: Lloyd's k-means learns the cell centroids
# (engine-exact, see above), then the IVF serving structure
# (assign → probe → score) runs against them. Because training is
# deterministic fixed-point, the whole composed index — training AND
# serving — hash-matches one DuckDB query end-to-end.
# ---------------------------------------------------------------------------


def _ivf_kmeans_oracle() -> str:
    return (
        "\n    WITH "
        + _kmeans_train_ctes()
        + f""",
    kvcents AS (
      SELECT cid,
             list_transform(cs, c -> CAST(c AS DOUBLE) / {_KM_SCALE}.0) AS cvec
      FROM c{_KM_ITERS - 1}
    ),"""
        + _ivf_body("kv", "kvcents")
    )


@register("ann_ivf_kmeans_topk", oracle=_ivf_kmeans_oracle())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    trained = kmeans_centroids(
        emb, id_col="vec_id", vec_col="embedding",
        k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
    ).select(F.col("cid").alias("cent_id"), F.col("cvec").alias("cent_vec"))
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, trained,
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
    )


# ---------------------------------------------------------------------------
# Dataset-mixture sampling — the multi-source corpus-mixing step: each
# source gets its own deterministic keep-rate (itself derived from a
# hash of the source name, so the mixture spec needs no side table),
# docs are kept by a content-hash gate, and the query reports the
# achieved mixture next to the target rate. Map-only until the tiny
# per-source summary aggregate; fully reproducible at any parallelism
# (same property as stratified_sample_customers).
# ---------------------------------------------------------------------------

_MIX_RATE = (
    "20 + CAST(concat('0x', substr(md5(concat('13:', {src})), 1, 8)) AS BIGINT) % 60"
)
_MIX_GATE = (
    "CAST(concat('0x', substr(md5(concat('14:', CAST(doc_id AS VARCHAR))), 1, 8)) "
    "AS BIGINT) % 100"
)


@register(
    "dataset_mixture_sample",
    oracle=f"""
    WITH t AS (
      SELECT source,
             {_MIX_RATE.format(src="source")} AS rate_pct,
             CAST({_MIX_GATE} < {_MIX_RATE.format(src="source")} AS BIGINT) AS kept
      FROM documents
    )
    SELECT source,
           CAST(rate_pct AS BIGINT) AS rate_pct,
           COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS achieved_frac
    FROM t GROUP BY source, rate_pct
    """,
)
def dataset_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    rate = F.lit(20) + md5_hash32(F.col("source"), seed=13) % 60
    kept = (md5_hash32(F.col("doc_id"), seed=14) % 100 < rate).cast("bigint")
    t = docs.select(
        "source", rate.cast("bigint").alias("rate_pct"), kept.alias("kept")
    )
    return t.groupBy("source", "rate_pct").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("kept").alias("n_kept"),
        (F.sum("kept").cast("double") / F.count(F.lit(1))).alias("achieved_frac"),
    )


# ---------------------------------------------------------------------------
# Per-domain quota capping — keep at most N highest-quality docs per
# source (the anti-domination rule large corpora apply so one crawl
# domain cannot swamp the mixture). One ranked window per source;
# WindowGroupLimit pushes the cap below the sort at scale.
# ---------------------------------------------------------------------------

_QUOTA_PER_SOURCE = 5

_QUALITY_EXPR_SQL = """
           CAST(n_chars >= 50 AND n_chars <= 10000 AS DOUBLE) * 0.4
           + CAST(CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) >= 2.0
                  AND CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) <= 12.0
                  AS DOUBLE) * 0.3
           + least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 3.0, 1.0) * 0.2
           + least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) * 20.0, 1.0) * 0.1
"""


@register(
    "domain_quota_cap",
    oracle=rf"""
    WITH qt AS (
      SELECT doc_id, source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
             CAST({_stop_hits(_QTOKS, "en")} AS BIGINT) AS n_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, {_QUALITY_EXPR_SQL} AS quality FROM qt
    )
    SELECT source, doc_id, quality,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY quality DESC, doc_id) AS INTEGER) AS rk
    FROM q
    QUALIFY rk <= {_QUOTA_PER_SOURCE}
    """,
)
def domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    staged = docs.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        punct_count("text").cast("long").alias("n_punct"),
        stopword_hits(toks, "en").cast("long").alias("n_stop"),
    )
    q = staged.select(
        "doc_id",
        "source",
        quality_score(
            F.col("n_chars"), F.col("n_tokens"), F.col("n_punct"), F.col("n_stop")
        ).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        q.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _QUOTA_PER_SOURCE)
        .select("source", "doc_id", "quality", "rk")
    )


# ---------------------------------------------------------------------------
# The full curation pipeline in ONE lazy plan: quality gate → exact
# dedup (keep lowest doc id per normalized text) → per-source quota
# (top-N quality) → mixture sampling → per-language corpus summary.
# Every stage is an already-scored operator; the composition is what a
# real ingest job submits as a single query, and Catalyst plans it
# end-to-end (one scan, stages pipelined). Summary emits only
# order-independent values (counts, exact BIGINT token sums, min/max
# quality) — no double summation, so the hash is stable at any
# parallelism.
# ---------------------------------------------------------------------------

_CURATE_MIN_QUALITY = 0.5


@register(
    "corpus_curation_pipeline",
    oracle=rf"""
    WITH qt AS (
      SELECT doc_id, source, lang, text,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
             CAST({_stop_hits(_QTOKS, "en")} AS BIGINT) AS n_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, lang, text, n_tokens,
             {_QUALITY_EXPR_SQL} AS quality
      FROM qt
    ),
    gated AS (SELECT * FROM q WHERE quality >= {_CURATE_MIN_QUALITY}),
    ded AS (
      SELECT MIN(doc_id) AS keep_id
      FROM gated
      GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
    ),
    kept AS (SELECT g.* FROM gated g JOIN ded ON g.doc_id = ded.keep_id),
    quota AS (
      SELECT * FROM (
        SELECT kept.*,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rk
        FROM kept
      ) WHERE rk <= {_QUOTA_PER_SOURCE}
    ),
    sampled AS (
      SELECT * FROM quota
      WHERE {_MIX_GATE} < {_MIX_RATE.format(src="source")}
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(quality) AS min_quality,
           MAX(quality) AS max_quality
    FROM sampled GROUP BY lang
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    staged = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        punct_count("text").cast("long").alias("n_punct"),
        stopword_hits(toks, "en").cast("long").alias("n_stop"),
    )
    q = staged.select(
        "doc_id",
        "source",
        "lang",
        "text",
        "n_tokens",
        quality_score(
            F.col("n_chars"), F.col("n_tokens"), F.col("n_punct"), F.col("n_stop")
        ).alias("quality"),
    )
    gated = q.filter(F.col("quality") >= _CURATE_MIN_QUALITY)
    ded = gated.groupBy(F.md5(normalize_text("text")).alias("__d")).agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = gated.join(ded, gated.doc_id == ded.keep_id, "left_semi")
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), F.col("doc_id"))
    quota = (
        kept.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA_PER_SOURCE)
    )
    rate = F.lit(20) + md5_hash32(F.col("source"), seed=13) % 60
    sampled = quota.filter(md5_hash32(F.col("doc_id"), seed=14) % 100 < rate)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


# ---------------------------------------------------------------------------
# Token rarity score: a corpus-statistics curation signal — how common
# are a document's tokens corpus-wide? Low mean document frequency ⇒
# OOV-/noise-heavy doc (filter candidate); `n_rare` counts tokens seen
# in ≤2 documents. All counts are exact BIGINTs (one double division
# at the end), so the DuckDB twin matches bit-for-bit.
#
# Scale shape: explode → two-level per-token doc-frequency aggregate →
# one token-keyed join back → per-doc re-aggregate. The df join is the
# skew hotspot at 100 TB (stopwords hit every doc): AQE skew-join
# splits the hot token partitions, and the join payload is one BIGINT
# per row — never the document text.
# ---------------------------------------------------------------------------

_RTOKS = _TOKS.format(col="lower(text)")


@register(
    "token_rarity_score",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_RTOKS}) AS tok FROM documents
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM (
        SELECT DISTINCT doc_id, tok FROM toks
      ) GROUP BY tok
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(d.df) AS BIGINT) AS sum_df,
           CAST(SUM(d.df) AS DOUBLE) / COUNT(*) AS mean_df,
           COUNT(*) FILTER (WHERE d.df <= 2) AS n_rare
    FROM toks t JOIN dfreq d USING (tok)
    GROUP BY t.doc_id
    """,
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    # document frequency, Expand-free: distinct (doc, tok) pairs via
    # groupBy, then a plain count per token.
    dfreq = (
        toks.groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("df").alias("sum_df"),
            (F.sum("df").cast("double") / F.count(F.lit(1))).alias("mean_df"),
            F.sum(F.when(F.col("df") <= 2, 1).otherwise(0)).alias("n_rare"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus diagnostics: vocabulary overlap between sources. For every
# source pair, the Jaccard similarity of their token vocabularies —
# the "are these two crawls the same corpus?" signal that decides
# whether sources should share a dedup pass. Shape: distinct
# (source, token) via one groupBy, per-source vocab sizes, then the
# pair intersection counted through a self-equi-join ON TOKEN (the
# inverted-index trick again — never |V_a| × |V_b|). Source count is
# tiny, token rows are the data — at 100 TB the join is bucketable on
# the token hash and the output is O(sources²).
# ---------------------------------------------------------------------------


@register(
    "source_vocab_overlap",
    oracle=rf"""
    WITH v AS (
      SELECT DISTINCT source, unnest({_RTOKS}) AS tok FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_common,
           sa.n AS n_vocab_a, sb.n AS n_vocab_b,
           CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    v = (
        docs.select(
            "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .select("source", "tok")
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("source_a"), "tok")
    b = v.select(F.col("source").alias("source_b"), "tok")
    pairs = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_vocab_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_vocab_b")))
    return (
        pairs.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_vocab_a",
            "n_vocab_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_vocab_a") + F.col("n_vocab_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch, Spark-first: d=3 portable hash rows × w=256
# buckets of plain BIGINT counts — each row of cells is ONE partial-
# aggregatable groupBy, cells merge by addition across partitions /
# days / sources (the mergeability that makes CMS the streaming
# heavy-hitter structure), and a key's estimate is the MIN of its d
# cells (classic one-sided overestimate: cms >= exact always).
# Everything is exact integer arithmetic on md5-derived buckets, so
# the DuckDB twin rebuilds the identical sketch and the driver
# hash-compares estimates, not just bounds. `overcount` quantifies
# collision error for the top-10 heavy keys; `is_upper_bound` pins
# the structural guarantee in both engines.
# ---------------------------------------------------------------------------

_CMS_W = 256
_CMS_D = 3


def _cms_hash_sql(expr: str, seed: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('{seed}:', "
        f"CAST({expr} AS VARCHAR))), 1, 8)) AS BIGINT) % {_CMS_W}"
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH keys AS (SELECT o_custkey AS k FROM orders),
    {", ".join(
        f'''cells{i} AS (
          SELECT {_cms_hash_sql("k", i)} AS b, COUNT(*) AS cnt
          FROM keys GROUP BY 1
        )''' for i in range(_CMS_D)
    )},
    exact AS (
      SELECT k, COUNT(*) AS exact_n FROM keys GROUP BY k
      ORDER BY exact_n DESC, k LIMIT 10
    )
    SELECT e.k AS custkey, e.exact_n,
           LEAST(c0.cnt, c1.cnt, c2.cnt) AS cms_estimate,
           LEAST(c0.cnt, c1.cnt, c2.cnt) - e.exact_n AS overcount,
           LEAST(c0.cnt, c1.cnt, c2.cnt) >= e.exact_n AS is_upper_bound
    FROM exact e
    JOIN cells0 c0 ON c0.b = {_cms_hash_sql("e.k", 0)}
    JOIN cells1 c1 ON c1.b = {_cms_hash_sql("e.k", 1)}
    JOIN cells2 c2 ON c2.b = {_cms_hash_sql("e.k", 2)}
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("k"))
    cells = [
        keys.groupBy((md5_hash32(F.col("k"), seed=i) % _CMS_W).alias("b"))
        .agg(F.count(F.lit(1)).alias(f"cnt{i}"))
        for i in range(_CMS_D)
    ]
    exact = (
        keys.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("k"))
        .limit(10)
    )
    probe = exact
    for i in range(_CMS_D):
        probe = probe.withColumn(f"b{i}", md5_hash32(F.col("k"), seed=i) % _CMS_W)
        probe = probe.join(
            F.broadcast(cells[i].withColumnRenamed("b", f"b{i}")), f"b{i}"
        )
    est = F.least(*[F.col(f"cnt{i}") for i in range(_CMS_D)])
    return probe.select(
        F.col("k").alias("custkey"),
        "exact_n",
        est.alias("cms_estimate"),
        (est - F.col("exact_n")).alias("overcount"),
        (est >= F.col("exact_n")).alias("is_upper_bound"),
    )


# ---------------------------------------------------------------------------
# BPE merge candidates — iteration 1 of byte-pair-encoding tokenizer
# training at corpus scale: the most frequent ADJACENT token pairs.
# Adjacency is computed inside each document's token array (transform
# over an index sequence — no positional self-join, no shuffle until
# the pair count), so the corpus-wide cost is explode + one hash
# aggregate; the top-20 is fully tie-broken. A real BPE trainer
# iterates this exact aggregate, merging the winner each round.
# ---------------------------------------------------------------------------


@register(
    "bpe_merge_candidates",
    oracle=rf"""
    WITH toks AS (
      SELECT {_RTOKS} AS t FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM toks WHERE len(t) >= 2
    )
    SELECT pair, COUNT(*) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    t = ws_tokens(F.lower(F.col("text")))
    staged = docs.select(t.alias("t")).filter(F.size("t") >= 2)
    pairs = staged.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat(
                    F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                ),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Duplicate-multiplicity histogram: how much of the corpus exists in
# 1, 2, 3, … copies — the exact-dedup diagnostic that tells you what
# deduplication will actually delete (Σ (m−1)·groups of multiplicity
# m) before you run it. Two nested counts over the normalized digest:
# both hash aggregates, the second over |distinct docs| rows.
# ---------------------------------------------------------------------------


@register(
    "dup_multiplicity_histogram",
    oracle=r"""
    WITH g AS (
      SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS d,
             COUNT(*) AS m
      FROM documents GROUP BY 1
    )
    SELECT m AS multiplicity,
           COUNT(*) AS n_groups,
           m * COUNT(*) AS n_docs,
           (m - 1) * COUNT(*) AS n_removable
    FROM g GROUP BY m
    """,
)
def dup_multiplicity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.select(
        F.md5(normalize_text(F.col("text"))).alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).alias("m"))
    return g.groupBy(F.col("m").alias("multiplicity")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        (F.col("multiplicity") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("multiplicity") - 1) * F.count(F.lit(1))).alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval: score a small query-document set against the corpus
# through the term inverted index — the lexical twin of cosine_topk
# (dense) for the retrieval side of a data pipeline (e.g. mining
# near-matches of eval prompts from the training corpus).
#
# Engine-exactness: a BM25 score is a SUM of per-term doubles, and
# floating-point addition is not associative — so each term's
# contribution is floor-scaled to a BIGINT (the similarity module's
# trick) and summed exactly; both engines then derive the double score
# by one fixed-shape division. idf is the exact rational N/df (no ln:
# rational idf keeps cross-engine parity and preserves ranking
# monotonicity in df).
#
# Scale shape: queries broadcast; the term join hits only posting
# lists of the query's terms (work = Σ df over query terms, never
# |Q|·N). Stopword-grade terms dominate that sum at 100 TB — the
# production knob is a df cap on the query side (drop terms with
# df > x% of N, the classic stopword cut); uncapped here because the
# synthetic corpus has a 31-term vocabulary.
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.operators.retrieval import (  # noqa: E402
    BM25_B as _BM25_B,
    BM25_K1 as _BM25_K1,
    BM25_SCALE as _BM25_SCALE,
    bm25_topk,
)

_BM25_NQ = 10  # query docs: doc_id < 10
_BM25_K = 5


def _bm25_topk_sql(p: str = "b", k: int | None = None) -> str:
    """Standalone BM25-top-k SELECT (default ``_BM25_K``); ``p``
    prefixes inner CTE names so the fragment composes into a larger
    oracle's WITH scope (the ``_brute_topk_sql`` convention)."""
    k = _BM25_K if k is None else k
    return rf"""
    WITH {p}toks AS (
      SELECT doc_id, unnest({_TOKS.format(col="lower(text)")}) AS tok
      FROM documents
    ),
    {p}tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM {p}toks GROUP BY 1, 2
    ),
    {p}len AS (
      SELECT doc_id, COUNT(*) AS dl FROM {p}toks GROUP BY 1
    ),
    {p}stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM {p}len
    ),
    {p}df AS (
      SELECT tok, COUNT(*) AS df FROM {p}tf GROUP BY 1
    ),
    {p}q AS (
      SELECT DISTINCT doc_id AS query_id, tok FROM {p}toks WHERE doc_id < {_BM25_NQ}
    ),
    {p}term AS (
      SELECT q.query_id, f.doc_id,
             CAST(FLOOR(
               (CAST(s.n_docs AS DOUBLE) / d.df)
               * (f.tf * ({_BM25_K1} + 1))
               / (f.tf + {_BM25_K1} * (1 - {_BM25_B}
                  + {_BM25_B} * (l.dl / s.avgdl)))
               * {_BM25_SCALE}) AS BIGINT) AS contrib
      FROM {p}q q
      JOIN {p}tf f USING (tok)
      JOIN {p}df d USING (tok)
      JOIN {p}len l ON l.doc_id = f.doc_id
      CROSS JOIN {p}stats s
      WHERE f.doc_id != q.query_id
    ),
    {p}score AS (
      SELECT query_id, doc_id,
             CAST(SUM(contrib) AS BIGINT) AS score_scaled,
             COUNT(*) AS n_terms
      FROM {p}term GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score_scaled, n_terms,
           CAST(score_scaled AS DOUBLE) / {_BM25_SCALE} AS score, rk
    FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY score_scaled DESC, doc_id) AS INTEGER) AS rk
      FROM {p}score
    ) WHERE rk <= {k}
    """


@register("bm25_topk_docs", oracle=_bm25_topk_sql())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.retrieval import tokenize

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    # The staged relations share one tokenize+tf subtree with several
    # consumers (postings, doclen, stats, query-term extraction) —
    # persist the explode once instead of tokenizing four times.
    toks = tokenize(docs, "doc_id", "text").persist()
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # tf feeds df AND the scoring join — same self-join rule as tfidf.
    tf = tf.persist()
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    q = (
        toks.filter(F.col("doc_id") < _BM25_NQ)
        .select(F.col("doc_id").alias("query_id"), "tok")
        .distinct()
    )
    return bm25_topk(q, tf.join(df_, "tok"), doclen, stats, k=_BM25_K)


# ---------------------------------------------------------------------------
# BM25 served from the PERSISTED index, scored — closing the one index
# family whose serve path was pytest-only: build the bucketed inverted
# index (postings/df/doclen/stats) into the warehouse tmp dir, then
# answer the same query set from index bytes alone (the co-located
# postings⋈df re-join; no document text read at serve time). Scores
# are identical to the live path by construction (exact integer
# tf/df/dl + the shared fixed-point contribution), so the oracle is
# the same SQL as bm25_topk_docs. An earlier build+APPEND+serve probe
# cost ~20s of fixed catalog overhead and was withdrawn (NOTES.md);
# build+serve alone prices in line with the other scored index probes,
# and append ≡ rebuild stays pinned in tests/test_retrieval.py.
# ---------------------------------------------------------------------------


@register("bm25_index_topk", oracle=_bm25_topk_sql(p="bi"))
def bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.retrieval import (
        bm25_topk_from_index,
        build_bm25_index,
        tokenize,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"bm25q_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_bm25_index(docs, prefix, n_buckets=4, path=path)
    q = (
        tokenize(docs.filter(F.col("doc_id") < _BM25_NQ), "doc_id", "text")
        .select(F.col("doc_id").alias("query_id"), "tok")
        .distinct()
    )
    return bm25_topk_from_index(spark, prefix, q, k=_BM25_K)


# ---------------------------------------------------------------------------
# Temperature-based multilingual sampling weights — the standard
# upsampling recipe for low-resource languages in a training mixture:
# w_l ∝ p_l^α with α = 0.5, i.e. w_l ∝ sqrt(n_l). sqrt is correctly
# rounded IEEE in both engines; the normalizing sum runs over
# floor-scaled BIGINTs so the total is partition-order-exact, and the
# final weights are single fixed-shape divisions. `epoch_boost` =
# w_l / p_l is the effective over-sampling factor each language gets.
# Map-only over one tiny per-language aggregate — trivially 100 TB
# safe (the fact scan is the only data-sized work).
# ---------------------------------------------------------------------------

_TEMP_SCALE = 1_000_000_000


@register(
    "temperature_sampling_weights",
    oracle=f"""
    WITH tw AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(FLOOR(SQRT(COUNT(*)) * {_TEMP_SCALE}) AS BIGINT) AS s
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(s) AS BIGINT) AS s_tot,
             CAST(SUM(n_docs) AS BIGINT) AS n_tot
      FROM tw
    )
    SELECT lang, n_docs,
           CAST(n_docs AS DOUBLE) / n_tot AS p_raw,
           CAST(s AS DOUBLE) / s_tot AS weight,
           (CAST(s AS DOUBLE) / s_tot)
             / (CAST(n_docs AS DOUBLE) / n_tot) AS epoch_boost
    FROM tw CROSS JOIN tot
    """,
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tw = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.floor(F.sqrt(F.count(F.lit(1))) * _TEMP_SCALE)
        .cast("bigint")
        .alias("s"),
    )
    tot = tw.agg(
        F.sum("s").alias("s_tot"), F.sum("n_docs").alias("n_tot")
    )
    p_raw = F.col("n_docs").cast("double") / F.col("n_tot")
    weight = F.col("s").cast("double") / F.col("s_tot")
    return tw.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        p_raw.alias("p_raw"),
        weight.alias("weight"),
        (weight / p_raw).alias("epoch_boost"),
    )


# ---------------------------------------------------------------------------
# Language-metadata audit: the confusion matrix of the LABELED lang
# column against the content-derived guess (stopword-hit argmax, the
# same rule lang_id_detect scores). Mislabeled language metadata is a
# classic corpus defect — it silently breaks per-language mixing
# quotas and temperature weights downstream, so the audit belongs
# next to those operators. Integer counts + one fixed-shape division;
# output is O(|langs|²) regardless of corpus size.
# ---------------------------------------------------------------------------


@register(
    "lang_confusion_matrix",
    oracle=rf"""
    WITH lcg AS (
      SELECT lang,
             {_stop_hits(_QTOKS, "en")} AS s_en,
             {_stop_hits(_QTOKS, "it")} AS s_it,
             {_stop_hits(_QTOKS, "de")} AS s_de,
             {_stop_hits(_QTOKS, "fr")} AS s_fr
      FROM documents
    ),
    lcm AS (
      SELECT lang,
             CASE WHEN greatest(s_en, s_it, s_de, s_fr) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_it, s_de, s_fr) THEN 'en'
                  WHEN s_it = greatest(s_en, s_it, s_de, s_fr) THEN 'it'
                  WHEN s_de = greatest(s_en, s_it, s_de, s_fr) THEN 'de'
                  ELSE 'fr'
             END AS lang_guess
      FROM lcg
    ),
    lct AS (SELECT lang, COUNT(*) AS n_lang FROM lcm GROUP BY lang)
    SELECT m.lang, m.lang_guess, COUNT(*) AS n_docs,
           CAST(COUNT(*) AS DOUBLE) / t.n_lang AS label_share,
           m.lang = m.lang_guess AS agrees
    FROM lcm m JOIN lct t USING (lang)
    GROUP BY m.lang, m.lang_guess, t.n_lang
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    guessed = docs.select(
        "lang", lang_id(ws_tokens(F.lower(F.col("text")))).alias("lang_guess")
    )
    totals = guessed.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        guessed.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_guess",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_lang")).alias(
                "label_share"
            ),
            (F.col("lang") == F.col("lang_guess")).alias("agrees"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus pattern audit — the PII / contamination scan a corpus gets
# before release: per source, how many docs contain an email-like
# string, a URL, a long digit run, or an 8+-letter token. Patterns
# are RE2/Java-portable (no backrefs/lookarounds — see the regexp
# gallery note). On this synthetic corpus the PII rows audit to zero,
# which is the point of an audit; the long-token pattern is live.
# Map-only scan + one tiny aggregate: at 100 TB this is a single pass
# with no shuffle beyond the per-source rollup.
# ---------------------------------------------------------------------------

_AUDIT_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[^\s]+"),
    ("digit_run", r"[0-9]{6,}"),
    ("long_token", r"[A-Za-z]{8,}"),
)


def _pattern_audit_oracle() -> str:
    cols = ",\n           ".join(
        f"CAST(SUM(CASE WHEN regexp_matches(text, '{pat}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{name}"
        for name, pat in _AUDIT_PATTERNS
    )
    return f"""
    SELECT source, COUNT(*) AS n_docs,
           {cols}
    FROM documents GROUP BY source
    """


@register("pii_pattern_audit", oracle=_pattern_audit_oracle())
def pii_pattern_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    flags = [
        F.sum(F.col("text").rlike(pat).cast("bigint")).alias(f"n_{name}")
        for name, pat in _AUDIT_PATTERNS
    ]
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), *flags
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law): distinct hashed 3-gram
# shingles seen after every 100 documents (by doc_id order) — the
# whitespace-token vocabulary of this synthetic corpus saturates at
# 31 types inside the first 10 docs, so the curve is measured over
# the shingle vocabulary (16.5k types at sf0.001, still growing).
# Reuses the persisted ``shingle_index`` subtree (fixed-width 2x
# BIGINT shuffle keys, never strings); the curve itself is a window
# over ~N/100 bucket rows.
# ---------------------------------------------------------------------------

_VG_BUCKET = 100

_VOCAB_GROWTH_ORACLE = f"""
    WITH {_HASHED_INV},
    vgfirst AS (SELECT h, g, min(doc_id) AS fd FROM ded GROUP BY h, g),
    vgb AS (
      SELECT CAST(floor(fd / {_VG_BUCKET}.0) AS BIGINT) AS b,
             COUNT(*) AS new_shingles
      FROM vgfirst GROUP BY 1
    )
    SELECT (b + 1) * {_VG_BUCKET} AS docs_seen, new_shingles,
           CAST(SUM(new_shingles) OVER (ORDER BY b) AS BIGINT) AS vocab_size
    FROM vgb
    """


@register("vocab_growth_curve", oracle=_VOCAB_GROWTH_ORACLE)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, "doc_id", "text", n=3)
    first = inv.groupBy("h", "g").agg(F.min("doc").alias("fd"))
    bucket = first.groupBy(
        F.floor(F.col("fd") / float(_VG_BUCKET)).alias("b")
    ).agg(F.count(F.lit(1)).alias("new_shingles"))
    w = Window.orderBy("b").rangeBetween(Window.unboundedPreceding, 0)
    return bucket.select(
        ((F.col("b") + 1) * _VG_BUCKET).alias("docs_seen"),
        "new_shingles",
        F.sum("new_shingles").over(w).alias("vocab_size"),
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle containment — the sub-document-duplication signal
# Jaccard misses (a short doc pasted into a long one has tiny Jaccard
# but containment ~1). Candidates come from the exact inverted-index
# join, NOT MinHash banding: whole-doc signatures are dominated by the
# large side, so banded LSH systematically misses asymmetric pairs.
# ---------------------------------------------------------------------------


@register(
    "containment_pairs",
    oracle=_JACCARD_CTE
    + """
    SELECT id_a, id_b, common,
           CAST(common AS DOUBLE) / CAST(n_a AS DOUBLE) AS cont_a_in_b,
           CAST(common AS DOUBLE) / CAST(n_b AS DOUBLE) AS cont_b_in_a
    FROM pairs
    WHERE CAST(common AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.7
       OR CAST(common AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.7
    """,
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: single-row-group parquet scans are 1 task; the
    # shingle/hash explode pipeline must parallelize before it.
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    return containment_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.7
    )


# ---------------------------------------------------------------------------
# Per-doc unigram surprisal under the corpus's own language model —
# the CCNet-style "is this document ordinary text for this corpus?"
# quality score. Surprisal is measured in WHOLE BITS via an exact
# dyadic surrogate, floor(log2(total // cnt)) = len(bin(x)) - 1, so
# every stage is integer arithmetic both engines compute identically
# (a real log2 differs across libms in the low bits and would
# hash-drift; see NOTES.md). High mean surprisal = rare-token-heavy
# doc (gibberish / codey); low = boilerplate.
# ---------------------------------------------------------------------------


@register(
    "unigram_surprisal_score",
    oracle=f"""
    WITH ust AS (
      SELECT doc_id, unnest({_TOKS.format(col="text")}) AS tok
      FROM documents
    ),
    ustf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM ust GROUP BY 1, 2
    ),
    uscf AS (
      SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM ustf GROUP BY 1
    ),
    ustot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uscf)
    SELECT f.doc_id,
           CAST(SUM(f.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(f.tf * (length(bin(t.total // c.cnt)) - 1))
                AS BIGINT) AS surprisal_bits,
           CAST(SUM(f.tf * (length(bin(t.total // c.cnt)) - 1)) AS DOUBLE)
             / CAST(SUM(f.tf) AS DOUBLE) AS mean_bits
    FROM ustf f JOIN uscf c USING (tok) CROSS JOIN ustot t
    GROUP BY f.doc_id
    """,
)
def unigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    # tf feeds both the corpus-frequency build AND the scoring join;
    # Catalyst does not dedupe self-join subtrees — persist or the
    # tokenize+agg pipeline runs twice (the tfidf_top_terms lesson).
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    cf = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    tot = cf.agg(F.sum("cnt").alias("total"))
    # floor(log2(total // cnt)) via bin-string length — exact in both
    # engines at ANY corpus size (SQL DIV ≡ DuckDB // on BIGINT;
    # total // cnt >= 1 always since cnt <= total).
    bits = F.length(F.bin(F.expr("total DIV cnt"))) - F.lit(1)
    scored = (
        tf.join(cf, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * bits).alias("surprisal_bits"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "surprisal_bits",
        (
            F.col("surprisal_bits").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("mean_bits"),
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence lift — word2vec/GloVe training prep: token
# pairs within a ±2 window, scored by observed-vs-independent lift
# (the PMI ranking without PMI's log, so every cell is one
# fixed-shape double expression over exact integer counts). Pair
# generation is MAP-SIDE (zip_with over token-array shifts — the
# co-occurrence-family idiom), never a positional self-join.
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 5
_PMI_TOPK = 50


@register(
    "token_pmi_pairs",
    oracle=f"""
    WITH pmt AS (
      SELECT doc_id, {_TOKS.format(col="text")} AS toks FROM documents
    ),
    pmp AS (
      SELECT unnest(
               list_concat(
                 list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                   i -> concat(least(toks[i], toks[i+1]), ' ',
                               greatest(toks[i], toks[i+1]))),
                 list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> concat(least(toks[i], toks[i+2]), ' ',
                               greatest(toks[i], toks[i+2])))
               )) AS pair
      FROM pmt
    ),
    pmpc AS (SELECT pair, COUNT(*) AS pair_cnt FROM pmp GROUP BY 1),
    pmu AS (
      SELECT unnest(toks) AS tok FROM pmt
    ),
    pmuc AS (SELECT tok, COUNT(*) AS cnt FROM pmu GROUP BY 1),
    pmtot AS (
      SELECT CAST((SELECT SUM(cnt) FROM pmuc) AS BIGINT) AS total_toks,
             CAST((SELECT SUM(pair_cnt) FROM pmpc) AS BIGINT) AS total_pairs
    ),
    pms AS (
      SELECT split_part(pair, ' ', 1) AS tok_a,
             split_part(pair, ' ', 2) AS tok_b,
             pair_cnt, a.cnt AS cnt_a, b.cnt AS cnt_b,
             CAST(pair_cnt AS DOUBLE) * CAST(total_toks AS DOUBLE)
               * CAST(total_toks AS DOUBLE)
               / (CAST(total_pairs AS DOUBLE) * CAST(a.cnt AS DOUBLE)
                  * CAST(b.cnt AS DOUBLE)) AS lift
      FROM pmpc CROSS JOIN pmtot
      JOIN pmuc a ON a.tok = split_part(pair, ' ', 1)
      JOIN pmuc b ON b.tok = split_part(pair, ' ', 2)
      WHERE pair_cnt >= {_PMI_MIN_PAIR}
    )
    SELECT tok_a, tok_b, pair_cnt, cnt_a, cnt_b, lift
    FROM pms
    ORDER BY lift DESC, tok_a, tok_b
    LIMIT {_PMI_TOPK}
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)

    # Token arrays are staged as a materialized (persisted) column
    # before the zip_with lambdas — HOF lambda bodies re-evaluate
    # captured outer expression trees per element (NOTES.md), and a
    # bare select is not a barrier. The staged frame also feeds the
    # unigram count, so the tokenize runs once.
    staged = docs.select(
        "doc_id", ws_tokens("text").alias("toks")
    ).persist()
    toks = F.col("toks")
    n = F.size(toks)

    def shifted_pairs(dist: int):
        width = F.greatest(n - dist, F.lit(0))
        lhs = F.slice(toks, 1, width)
        rhs = F.slice(toks, 1 + dist, width)
        return F.zip_with(
            lhs,
            rhs,
            lambda x, y: F.concat_ws(" ", F.least(x, y), F.greatest(x, y)),
        )

    pairs = staged.select(
        F.explode(
            F.concat(shifted_pairs(1), shifted_pairs(2))
        ).alias("pair")
    )
    # pair_cnt and uni each feed two consumers (scoring + totals);
    # both are vocab-bounded, so the persists are O(vocab), not O(N).
    pair_cnt = (
        pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("pair_cnt")).persist()
    )
    uni = (
        staged.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    tot = uni.agg(F.sum("cnt").alias("total_toks")).crossJoin(
        pair_cnt.agg(F.sum("pair_cnt").alias("total_pairs"))
    )
    filtered = pair_cnt.filter(F.col("pair_cnt") >= _PMI_MIN_PAIR).select(
        F.split(F.col("pair"), " ").getItem(0).alias("tok_a"),
        F.split(F.col("pair"), " ").getItem(1).alias("tok_b"),
        "pair_cnt",
    )
    a = uni.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    b = uni.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    lift = (
        F.col("pair_cnt").cast("double")
        * F.col("total_toks").cast("double")
        * F.col("total_toks").cast("double")
        / (
            F.col("total_pairs").cast("double")
            * F.col("cnt_a").cast("double")
            * F.col("cnt_b").cast("double")
        )
    )
    return (
        filtered.join(a, "tok_a")
        .join(b, "tok_b")
        .crossJoin(F.broadcast(tot))
        .select("tok_a", "tok_b", "pair_cnt", "cnt_a", "cnt_b", lift.alias("lift"))
        .orderBy(F.desc("lift"), "tok_a", "tok_b")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# SemDedup (Abbas et al. 2023): semantic dedup via k-means cells —
# cluster the embedding space, score cosine ONLY within a cell, drop
# every vector that duplicates (cos ≥ θ) a lower-id cell-mate. The
# scale story is the clustering itself: pairwise work is Σ|cell|²,
# bounded by choosing k ∝ N (cells stay ~constant size), vs the
# corpus-quadratic all-pairs scan it replaces. Reuses the fixed-point
# k-means (engine-exact assignments) and the exact-decimal cosine, so
# the DuckDB twin replays training + pairing bit-for-bit.
# ---------------------------------------------------------------------------

_SD_THRESH = 0.40


def _semdedup_oracle() -> str:
    return ("\n    WITH " + _kmeans_train_ctes() + _km_round(_KM_ITERS) + f""",
    sdv AS (SELECT e.vec_id, a.cid AS cluster_id, e.embedding
            FROM embeddings e JOIN a{_KM_ITERS} a USING (vec_id)),
    sdq AS (SELECT vec_id AS id_a, cluster_id, embedding AS qv FROM sdv),
    sdc AS (SELECT vec_id AS id_b, cluster_id, embedding AS cv FROM sdv),
    sdp AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b, {_COSINE} AS cosine
        FROM sdq JOIN sdc USING (cluster_id) WHERE id_a < id_b
      ) WHERE cosine >= {_SD_THRESH}
    ),
    sdptr AS (
      SELECT id_a AS vec_id, id_b AS partner FROM sdp
      UNION ALL
      SELECT id_b AS vec_id, id_a AS partner FROM sdp
    ),
    sdagg AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_partners,
             CAST(SUM(CASE WHEN partner < vec_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lower
      FROM sdptr GROUP BY vec_id
    )
    SELECT v.vec_id, v.cluster_id,
           CAST(COALESCE(g.n_partners, 0) AS BIGINT) AS n_partners,
           COALESCE(g.n_lower, 0) > 0 AS dropped
    FROM sdv v LEFT JOIN sdagg g USING (vec_id)
    """)


@register("semantic_dedup_kmeans", oracle=_semdedup_oracle())
def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.similarity import (
        _cosine_pre,
        _norm,
    )

    emb = read_table(spark, sf_dir, "embeddings", fan_out=True)
    assign = kmeans_assign(
        emb, id_col="vec_id", vec_col="embedding",
        k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
    )
    # One staged frame (vector + cell + pre-computed norm) feeds both
    # sides of the pairing join AND the final decision rows — persist
    # so k-means training and the norm pass run once, and the O(dim)
    # interpreted self-dot never runs per PAIR.
    staged = (
        emb.join(assign.select("vec_id", "cluster_id"), "vec_id")
        .select(
            "vec_id", "cluster_id", "embedding",
            _norm(F.col("embedding")).alias("__n"),
        )
        .persist()
    )
    a = staged.select(
        F.col("vec_id").alias("id_a"), "cluster_id",
        F.col("embedding").alias("__qv"), F.col("__n").alias("__qn"),
    )
    b = staged.select(
        F.col("vec_id").alias("id_b"), "cluster_id",
        F.col("embedding").alias("__cv"), F.col("__n").alias("__cn"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("__cv"),
                        F.col("__qn"), F.col("__cn")),
        )
        .filter(F.col("cosine") >= _SD_THRESH)
        .select("id_a", "id_b")
    )
    partners = pairs.select(
        F.col("id_a").alias("vec_id"), F.col("id_b").alias("partner")
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("vec_id"), F.col("id_a").alias("partner")
        )
    )
    agg = partners.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.sum((F.col("partner") < F.col("vec_id")).cast("bigint")).alias(
            "n_lower"
        ),
    )
    return (
        staged.select("vec_id", "cluster_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("n_partners"), F.lit(0)).alias("n_partners"),
            (F.coalesce(F.col("n_lower"), F.lit(0)) > 0).alias("dropped"),
        )
    )


# ---------------------------------------------------------------------------
# PCA leading component — power iteration on the centered Gram
# matrix, fixed-point exact (operators.clustering.pca_top_component).
# The oracle unrolls all 6 iterations as CTEs, the same pattern that
# proves k-means: every truncating division (Spark DIV ≡ DuckDB //,
# both toward zero for all signs) and every integer sum is
# engine-identical, so a 6-deep iterative eigen-solve hash-matches.
# ---------------------------------------------------------------------------

_PCA_ITERS, _PCA_GBITS, _PCA_VINIT = 6, 34, 1 << 20


def _pca_oracle() -> str:
    parts = [f"""
    WITH pcx AS (
      SELECT vec_id,
             list_transform(embedding,
               e -> CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS xs
      FROM embeddings
    ),
    pce AS (
      SELECT vec_id, unnest(range(0, len(xs))) AS i, unnest(xs) AS x FROM pcx
    ),
    pcm AS (
      SELECT i, CAST(SUM(x) AS BIGINT) // COUNT(*) AS m FROM pce GROUP BY i
    ),
    pcr AS (
      SELECT e.vec_id, e.i, e.x - m.m AS r FROM pce e JOIN pcm m USING (i)
    ),
    pcg AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.r * b.r) AS BIGINT) AS gij
      FROM pcr a JOIN pcr b ON a.vec_id = b.vec_id GROUP BY 1, 2
    ),
    pcdiv AS (
      SELECT CAST(power(2, greatest(length(bin(max(abs(gij)))) - 1
                                      - {_PCA_GBITS}, 0)) AS BIGINT) AS gdiv
      FROM pcg
    ),
    pcgs AS MATERIALIZED (
      SELECT i, j, gij // gdiv AS gs FROM pcg CROSS JOIN pcdiv
    ),
    pv0 AS (SELECT i AS j, CAST({_PCA_VINIT} AS BIGINT) AS v FROM pcm)"""]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(f""",
    pw{t} AS MATERIALIZED (
      SELECT g.i, CAST(SUM(g.gs * v.v) AS BIGINT) AS w
      FROM pcgs g JOIN pv{t - 1} v USING (j) GROUP BY g.i
    ),
    pd{t} AS (SELECT (max(abs(w)) // {_PCA_VINIT}) + 1 AS d FROM pw{t}),
    pv{t} AS (SELECT i AS j, w // d AS v FROM pw{t} CROSS JOIN pd{t})""")
    parts.append(f""",
    pcn AS (SELECT CAST(SUM(v * v) AS BIGINT) AS n2 FROM pv{_PCA_ITERS})
    SELECT CAST(j AS INTEGER) AS dim_i, v AS v_fixed,
           CAST(v AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) AS loading
    FROM pv{_PCA_ITERS} CROSS JOIN pcn""")
    return "".join(parts)


@register("pca_top_component", oracle=_pca_oracle())
def pca_top_component_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.clustering import (
        pca_top_component,
    )

    emb = read_table(spark, sf_dir, "embeddings", fan_out=True)
    return pca_top_component(emb, vec_col="embedding", iters=_PCA_ITERS)


# ---------------------------------------------------------------------------
# Bigram conditional surprisal — the 2-gram companion of
# unigram_surprisal_score: how predictable is each next-token given
# its predecessor, under the corpus's own bigram LM. Same exact
# dyadic-bits surrogate (bitlen of a truncating integer division):
# P(cur|prev) = pair_cnt / ctx_cnt, surprisal = floor(log2(ctx_cnt
# // pair_cnt)). Low mean bits = formulaic/templated text; the
# unigram-vs-bigram bits GAP is the repetition-structure signal.
# ---------------------------------------------------------------------------


@register(
    "bigram_surprisal_score",
    oracle=f"""
    WITH bgt AS (
      SELECT doc_id, {_TOKS.format(col="text")} AS toks FROM documents
    ),
    bgp AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
               i -> concat(toks[i], ' ', toks[i+1]))) AS pair
      FROM bgt
    ),
    bgf AS (
      SELECT doc_id, pair, COUNT(*) AS tf FROM bgp GROUP BY 1, 2
    ),
    bgc AS (
      SELECT pair, CAST(SUM(tf) AS BIGINT) AS pair_cnt FROM bgf GROUP BY 1
    ),
    bgx AS (
      SELECT split_part(pair, ' ', 1) AS prev,
             CAST(SUM(pair_cnt) AS BIGINT) AS ctx_cnt
      FROM bgc GROUP BY 1
    )
    SELECT f.doc_id,
           CAST(SUM(f.tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(f.tf * (length(bin(x.ctx_cnt // c.pair_cnt)) - 1))
                AS BIGINT) AS surprisal_bits,
           CAST(SUM(f.tf * (length(bin(x.ctx_cnt // c.pair_cnt)) - 1))
                AS DOUBLE) / CAST(SUM(f.tf) AS DOUBLE) AS mean_bits
    FROM bgf f
    JOIN bgc c USING (pair)
    JOIN bgx x ON x.prev = split_part(f.pair, ' ', 1)
    GROUP BY f.doc_id
    """,
)
def bigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    staged = docs.select(
        "doc_id", ws_tokens("text").alias("toks")
    ).persist()
    toks = F.col("toks")
    n = F.size(toks)
    width = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, width),
        F.slice(toks, 2, width),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    pairs = staged.select("doc_id", F.explode(bigrams).alias("pair"))
    # tf feeds the corpus counts AND the scoring join (the
    # tfidf/unigram persist lesson).
    tf = (
        pairs.groupBy("doc_id", "pair")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    pc = tf.groupBy("pair").agg(F.sum("tf").alias("pair_cnt"))
    ctx = pc.groupBy(
        F.split(F.col("pair"), " ").getItem(0).alias("prev")
    ).agg(F.sum("pair_cnt").alias("ctx_cnt"))
    bits = F.length(F.bin(F.expr("ctx_cnt DIV pair_cnt"))) - F.lit(1)
    scored = (
        tf.join(pc, "pair")
        .withColumn("prev", F.split(F.col("pair"), " ").getItem(0))
        .join(ctx, "prev")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * bits).alias("surprisal_bits"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "surprisal_bits",
        (
            F.col("surprisal_bits").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("mean_bits"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of the lexical (BM25) and
# dense (exact cosine) retrievers: the standard production recipe for
# combining incomparable score scales (Cormack et al.'s RRF,
# score(d) = Σ_systems 1/(k0 + rank_s(d)), k0 = 60). Rank lists come
# from the two already-verified retrievers; fusion is rank-only, so
# the only doubles are ONE fixed-shape division per (list, hit) and a
# sum of ≤ 2 such terms per candidate (two-term IEEE addition is
# commutative — no accumulation-order hazard). Scale: fusion runs on
# |Q|·k rows per system; the retrievers own the data-sized work.
# ---------------------------------------------------------------------------

_RRF_K0 = 60
_RRF_TOPK = 5


@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH rrd AS ({_brute_topk_sql("rr1")}),
    rrl AS ({_bm25_topk_sql("rr2")}),
    rrc AS (
      SELECT query_id, neighbor_id AS id,
             CAST(1.0 AS DOUBLE) / ({_RRF_K0} + rk) AS contrib
      FROM rrd
      UNION ALL
      SELECT query_id, doc_id AS id,
             CAST(1.0 AS DOUBLE) / ({_RRF_K0} + rk) AS contrib
      FROM rrl
    ),
    rrs AS (
      SELECT query_id, id,
             CAST(COUNT(*) AS BIGINT) AS n_systems,
             SUM(contrib) AS rrf_score
      FROM rrc GROUP BY 1, 2
    )
    SELECT query_id, id, n_systems, rrf_score, rk
    FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY rrf_score DESC, id) AS INTEGER) AS rk
      FROM rrs
    ) WHERE rk <= {_RRF_TOPK}
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    contrib = F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rk"))
    dense = cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("id"), contrib.alias("contrib")
    )
    lex = bm25_topk_docs(spark, sf_dir).select(
        "query_id", F.col("doc_id").alias("id"), contrib.alias("contrib")
    )
    fused = (
        dense.unionByName(lex)
        .groupBy("query_id", "id")
        .agg(
            F.count(F.lit(1)).alias("n_systems"),
            F.sum("contrib").alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "id")
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _RRF_TOPK)
        .select("query_id", "id", "n_systems", "rrf_score", "rk")
    )


# ---------------------------------------------------------------------------
# Multimodal hybrid retrieval, scored — the CLIP-era fusion shape:
# per query document, the TEXT ranking (BM25 over the inverted index)
# and the IMAGE ranking (gray-feature cosine over the real decode
# path) each produce a top-20 list over the same corpus, fused by
# reciprocal-rank fusion (1/(60+rank), the same engine-exact RRF
# hybrid_rrf_retrieval uses for text+dense). Documents surfaced by
# BOTH modalities rise; the oracle recomputes both rankings and the
# fused ordering end to end.
# ---------------------------------------------------------------------------

_MM_CAND_K = 20


@register(
    "multimodal_rrf_retrieval",
    oracle=f"""
    WITH mmi AS ({_img_sim_oracle(p="mi", k=_MM_CAND_K)}),
    mml AS ({_bm25_topk_sql(p="ml", k=_MM_CAND_K)}),
    mmc AS (
      SELECT query_id, neighbor_id AS id,
             CAST(1.0 AS DOUBLE) / ({_RRF_K0} + rk) AS contrib
      FROM mmi
      UNION ALL
      SELECT query_id, doc_id AS id,
             CAST(1.0 AS DOUBLE) / ({_RRF_K0} + rk) AS contrib
      FROM mml
    ),
    mms AS (
      SELECT query_id, id,
             CAST(COUNT(*) AS BIGINT) AS n_modalities,
             SUM(contrib) AS rrf_score
      FROM mmc GROUP BY 1, 2
    )
    SELECT query_id, id, n_modalities, rrf_score, rk
    FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY rrf_score DESC, id) AS INTEGER) AS rk
      FROM mms
    ) WHERE rk <= {_RRF_TOPK}
    """,
)
def multimodal_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from exceldatatransform_py_spark.operators.retrieval import (
        bm25_stage,
        bm25_topk,
        tokenize,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    # image modality: gray feature vectors through the real decode
    gray = bmp_resize_gray(
        pack_bmp(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            id_col="doc_id", bin_col="payload",
        ),
        id_col="doc_id", image_col="image", tw=8, th=8,
    )
    gcorpus = gray.select("doc_id", F.col("gray").alias("gvec"))
    img = cosine_topk(
        gcorpus.filter(F.col("doc_id") < 10), gcorpus,
        id_col="doc_id", vec_col="gvec", k=_MM_CAND_K,
    )
    # text modality: BM25 over the staged inverted index
    staged = bm25_stage(docs)
    q = (
        tokenize(docs.filter(F.col("doc_id") < 10), "doc_id", "text")
        .select(F.col("doc_id").alias("query_id"), "tok")
        .distinct()
    )
    lex = bm25_topk(
        q, staged["postings"], staged["doclen"], staged["stats"],
        k=_MM_CAND_K,
    )
    contrib = F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rk"))
    fused = (
        img.select(
            "query_id", F.col("neighbor_id").alias("id"),
            contrib.alias("contrib"),
        )
        .unionByName(lex.select(
            "query_id", F.col("doc_id").alias("id"), contrib.alias("contrib")
        ))
        .groupBy("query_id", "id")
        .agg(
            F.count(F.lit(1)).alias("n_modalities"),
            F.sum("contrib").alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "id")
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _RRF_TOPK)
        .select("query_id", "id", "n_modalities", "rrf_score", "rk")
    )


# ---------------------------------------------------------------------------
# JL random-projection distortion audit — the pre-indexing shrink for
# 100 TB ANN (project 64→16 dims map-side, index the cheap vectors)
# with its quality MEASURED, not assumed: per query, the 20 worst
# |cosine_original − cosine_projected| pairs. Achlioptas ±1 sign
# planes over fixed-point vectors keep every projection an exact
# integer sum, so both cosines are fixed-shape doubles over exact
# integer dots — fully oracle-checkable (the ann_recall_at_k
# philosophy applied to dimensionality reduction).
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.operators.similarity import (  # noqa: E402
    jl_project,
    jl_sign_planes,
)
from exceldatatransform_py_spark.operators.clustering import (  # noqa: E402
    quantize_vec,
)

_JL_PLANES = jl_sign_planes(dim=64, n_planes=16, seed=7)
_JL_WORST_K = 20


def _jl_oracle() -> str:
    proj_cols = ", ".join(
        "CAST(list_sum(list_transform(range(1, len(xs) + 1), "
        f"i -> xs[i] * ([{', '.join(str(s) for s in row)}])[i])) AS BIGINT)"
        f" AS y{p}"
        for p, row in enumerate(_JL_PLANES)
    )
    ys = "[" + ", ".join(f"y{p}" for p in range(len(_JL_PLANES))) + "]"
    dot = (
        "CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i])) AS BIGINT)"
    )
    return f"""
    WITH jlx AS (
      SELECT vec_id,
             list_transform(embedding,
               e -> CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS xs
      FROM embeddings
    ),
    jlp AS (SELECT vec_id, xs, {proj_cols} FROM jlx),
    jly AS (
      SELECT vec_id, xs, {ys} AS ys,
             {dot.format(a="xs", b="xs")} AS nx,
             {dot.format(a=ys, b=ys)} AS ny
      FROM jlp
    ),
    jlq AS (SELECT vec_id AS query_id, xs AS qxs, ys AS qys,
                   nx AS qnx, ny AS qny FROM jly WHERE vec_id < 10),
    jlc AS (SELECT vec_id AS neighbor_id, xs AS cxs, ys AS cys,
                   nx AS cnx, ny AS cny FROM jly),
    jls AS (
      SELECT query_id, neighbor_id,
             CAST({dot.format(a="qxs", b="cxs")} AS DOUBLE)
               / (sqrt(CAST(qnx AS DOUBLE)) * sqrt(CAST(cnx AS DOUBLE)))
               AS cos_orig,
             CAST({dot.format(a="qys", b="cys")} AS DOUBLE)
               / (sqrt(CAST(qny AS DOUBLE)) * sqrt(CAST(cny AS DOUBLE)))
               AS cos_proj
      FROM jlq, jlc WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cos_orig, cos_proj, abs_err, rk FROM (
      SELECT *, abs(cos_orig - cos_proj) AS abs_err,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY abs(cos_orig - cos_proj) DESC, neighbor_id)
               AS INTEGER) AS rk
      FROM jls
    ) WHERE rk <= {_JL_WORST_K}
    """


@register("jl_distortion_audit", oracle=_jl_oracle())
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings", fan_out=True)
    # Quantize once, STAGE, then project+norm over the materialized
    # arrays (each plane's zip_with re-evaluates its input; see
    # jl_project) — and the staged frame feeds both join sides.
    xs = emb.select("vec_id", quantize_vec("embedding").alias("xs")).persist()

    def dot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    y = xs.select(
        "vec_id",
        "xs",
        jl_project(F.col("xs"), _JL_PLANES).alias("ys"),
    ).persist()
    staged = y.select(
        "vec_id", "xs", "ys", dot("xs", "xs").alias("nx"), dot("ys", "ys").alias("ny")
    ).persist()
    q = staged.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("xs").alias("qxs"), F.col("ys").alias("qys"),
        F.col("nx").alias("qnx"), F.col("ny").alias("qny"),
    )
    c = staged.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("xs").alias("cxs"), F.col("ys").alias("cys"),
        F.col("nx").alias("cnx"), F.col("ny").alias("cny"),
    )
    cos_orig = dot("qxs", "cxs").cast("double") / (
        F.sqrt(F.col("qnx").cast("double")) * F.sqrt(F.col("cnx").cast("double"))
    )
    cos_proj = dot("qys", "cys").cast("double") / (
        F.sqrt(F.col("qny").cast("double")) * F.sqrt(F.col("cny").cast("double"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos_orig.alias("cos_orig"),
            cos_proj.alias("cos_proj"),
        )
        .withColumn("abs_err", F.abs(F.col("cos_orig") - F.col("cos_proj")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("abs_err"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _JL_WORST_K)
        .select("query_id", "neighbor_id", "cos_orig", "cos_proj", "abs_err", "rk")
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicated spans (contiguous cross-doc n-gram runs).
# ---------------------------------------------------------------------------

#: duplicate_ngram_spans gram width — 8-word grams balance precision
#: (an 8-gram rarely repeats by chance) against recall on short docs.
_SPAN_N = 8

_SPAN_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(t[i:i+{_SPAN_N - 1}], ' ')) AS d
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {_SPAN_N - 1}, 0) + 1)) AS u(i)
    ), dup AS (
      SELECT d FROM grams GROUP BY d HAVING count(DISTINCT doc_id) >= 2
    ), dup_pos AS (
      SELECT doc_id, pos FROM grams WHERE d IN (SELECT d FROM dup)
    ), isl AS (
      SELECT doc_id,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup_pos
    ), spans AS (
      SELECT doc_id, grp, count(*) AS island_len FROM isl GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(sum(island_len) AS BIGINT) AS n_dup_ngrams,
           CAST(count(*) AS BIGINT) AS n_dup_spans,
           CAST(max(island_len) + {_SPAN_N - 1} AS BIGINT)
             AS max_dup_span_tokens
    FROM spans GROUP BY doc_id
    """


@register("duplicate_ngram_spans", oracle=_SPAN_ORACLE)
def duplicate_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc verbatim-duplication profile: contiguous runs of word
    8-grams shared with at least one OTHER document (ExactSubstr-style
    span dedup — the contiguous-text complement of shingle Jaccard).
    Linear plan: positioned grams leave the scan as md5 digests, the
    duplicated-gram set comes from one hash-agg, spans from a per-doc
    window; no doc-pair join anywhere. fan_out: the gram build
    (8-token concat + md5 per position) is the expensive map stage and
    the testdata parquet is single-row-group."""
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    return duplicate_ngram_spans(docs, id_col="doc_id", text_col="text", n=_SPAN_N)


#: span-removal threshold: drop duplicated spans covering ≥ this many
#: tokens (ExactSubstr's L). Above _SPAN_N so single isolated
#: duplicated grams survive and the threshold actually selects.
_SPAN_MIN_REMOVE = 12

_SPAN_CLEAN_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(col="text")} AS t FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(t[i:i+{_SPAN_N - 1}], ' ')) AS d
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {_SPAN_N - 1}, 0) + 1)) AS u(i)
    ), dup AS (
      SELECT d FROM grams GROUP BY d HAVING count(DISTINCT doc_id) >= 2
    ), dup_pos AS (
      SELECT doc_id, pos FROM grams WHERE d IN (SELECT d FROM dup)
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup_pos
    ), iv AS (
      SELECT doc_id, min(pos) AS a,
             min(pos) + count(*) + {_SPAN_N - 2} AS b
      FROM isl GROUP BY doc_id, grp
      HAVING count(*) + {_SPAN_N - 1} >= {_SPAN_MIN_REMOVE}
    ), tok_rows AS (
      SELECT doc_id, CAST(i AS BIGINT) AS tpos, t[i] AS tok
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ), kept AS (
      SELECT k.doc_id, k.tpos, k.tok
      FROM tok_rows k
      WHERE NOT EXISTS (
        SELECT 1 FROM iv
        WHERE iv.doc_id = k.doc_id AND k.tpos BETWEEN iv.a AND iv.b
      )
    ), agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY tpos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """


@register("span_dedup_clean", oracle=_SPAN_CLEAN_ORACLE)
def span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr's actual edit, scored end-to-end: rewrite every
    document with duplicated spans ≥ {_SPAN_MIN_REMOVE} tokens
    removed. The oracle rebuilds the expected cleaned text token by
    token (interval anti-semantics included), so the per-doc
    remaining-token counts AND the exact output text are verified."""
    from exceldatatransform_py_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    return remove_duplicate_spans(
        docs, id_col="doc_id", text_col="text", n=_SPAN_N,
        min_span=_SPAN_MIN_REMOVE,
    )


# ---------------------------------------------------------------------------
# Shingle novelty — the incremental-curation signal: what fraction of
# a document's distinct shingles appear here FIRST (by doc id order)?
# Boilerplate-heavy or syndicated docs score near 0; fresh content
# near 1. One hash-agg over the shared shingle index (min doc id per
# shingle) + one join back — linear, no doc-pair join, and the 16-byte
# (h, g) keys are what shuffles, never text.
# ---------------------------------------------------------------------------


@register(
    "doc_novelty_ratio",
    oracle=f"""
    WITH {_HASHED_INV},
    first_occ AS (
      SELECT h, g, min(doc_id) AS first_doc FROM inv GROUP BY h, g
    ),
    per AS (
      SELECT i.doc_id,
             count(*) AS n_sh,
             sum(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM inv i JOIN first_occ f ON i.h = f.h AND i.g = f.g
      GROUP BY i.doc_id
    )
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_sh AS DOUBLE) AS novelty_ratio
    FROM per
    """,
)
def doc_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, id_col="doc_id", text_col="text", n=3)
    first = inv.groupBy("h", "g").agg(F.min("doc").alias("first_doc"))
    per = (
        inv.join(first, ["h", "g"])
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.select(
        F.col("doc").alias("doc_id"),
        "n_shingles",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"))
        .alias("novelty_ratio"),
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization with MEASURED recall — the vector-storage
# path at 100 TB: per-dimension corpus min/max train a uint8 code per
# element (4x smaller than float32), search runs over the
# RECONSTRUCTED vectors, and the query scores recall@5 against the
# exact float search. Training is one posexplode + 64-group agg
# (map-side partial); the codebook is a single broadcast row; both
# the quantize and the reconstruction are deterministic double
# expressions, so recall itself is fully oracle-checked — like
# ann_recall_at_k, quality is measured, never assumed.
# ---------------------------------------------------------------------------


def _sq8_oracle() -> str:
    recon = (
        "los[i] + (CASE WHEN his[i] = los[i] THEN 0.0 ELSE "
        "floor((CAST(embedding[i] AS DOUBLE) - los[i]) * 255.0 "
        "/ (his[i] - los[i])) END) * (his[i] - los[i]) / 255.0"
    )
    return f"""
    WITH xstats AS (
      SELECT i, min(embedding[i]) AS lo, max(embedding[i]) AS hi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY i
    ),
    arrs AS (
      SELECT list(CAST(lo AS DOUBLE) ORDER BY i) AS los,
             list(CAST(hi AS DOUBLE) ORDER BY i) AS his
      FROM xstats
    ),
    rec AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1), i -> {recon}) AS rv
      FROM embeddings, arrs
    ),
    aq AS (SELECT vec_id AS query_id, rv AS qv FROM rec WHERE vec_id < 10),
    ac AS (SELECT vec_id AS neighbor_id, rv AS cv FROM rec),
    ascore AS (
      SELECT query_id, neighbor_id, {_COSINE} AS cosine
      FROM aq, ac WHERE query_id != neighbor_id
    ),
    atop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM ascore
      ) WHERE rk <= 5
    ),
    eq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    ec AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    escore AS (
      SELECT query_id, neighbor_id, {_COSINE} AS cosine
      FROM eq, ec WHERE query_id != neighbor_id
    ),
    etop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM escore
      ) WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(count(a.query_id) AS BIGINT) AS n_match,
           CAST(count(a.query_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM etop e
    LEFT JOIN atop a USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """


@register("sq8_quantization_recall", oracle=_sq8_oracle())
def sq8_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings", fan_out=True)
    # the IVF-SQ8 operator's own codec: train the one-row codebook,
    # then reconstruct decode(encode(x)) — on build-time data the
    # encode's clamp is a no-op, so this is the oracle's floor formula
    rec = emb.join(F.broadcast(sq8_codebook(emb))).select(
        "vec_id", _sq8_decode(_sq8_encode(F.col("embedding"))).alias("rv")
    )
    approx = cosine_topk(
        rec.filter(F.col("vec_id") < 10), rec, id_col="vec_id",
        vec_col="rv", k=5,
    ).select("query_id", "neighbor_id", F.lit(1).alias("__m"))
    exact = cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, id_col="vec_id",
        vec_col="embedding", k=5,
    ).select("query_id", "neighbor_id")
    per = exact.join(approx, ["query_id", "neighbor_id"], "left").groupBy(
        "query_id"
    ).agg(F.count("__m").cast("bigint").alias("n_match"))
    return per.select(
        "query_id",
        "n_match",
        (F.col("n_match").cast("double") / F.lit(5.0)).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Windowed audio energy (VAD primitive) through the real WAV path:
# encode → RIFF decode → 20 ms windows → exact integer energy +
# voiced flag. The oracle recomputes every window from the raw bytes
# and the u8→s16 widening rule — integer-exact end to end.
# ---------------------------------------------------------------------------

_VAD_FRAME = 160          # 20 ms at 8 kHz
_VAD_FLOOR = 131_000_000  # mean-energy threshold ~ the corpus median, so the flag splits


@register(
    "wav_frame_energy",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, length(text) AS n FROM documents
    ),
    win AS (
      SELECT doc_id, n, CAST(w AS INTEGER) AS frame_idx,
             CAST(w * {_VAD_FRAME} + 1 AS BIGINT) AS a,
             CAST(least((w + 1) * {_VAD_FRAME}, n) AS BIGINT) AS b
      FROM s, UNNEST(range(0, CAST(ceil(n / {_VAD_FRAME}.0) AS BIGINT))) AS u(w)
    ),
    e AS (
      SELECT doc_id, frame_idx,
             CAST(b - a + 1 AS INTEGER) AS n_samples,
             list_sum(list_transform(range(a, b + 1),
               j -> CAST(({_PIX.format(j="j")} - 128) * 256 AS BIGINT)
                    * (({_PIX.format(j="j")} - 128) * 256))) AS energy
      FROM win JOIN documents USING (doc_id)
    )
    SELECT doc_id, frame_idx, n_samples,
           CAST(energy AS BIGINT) AS energy,
           energy // n_samples >= {_VAD_FLOOR} AS voiced
    FROM e
    """,
)
def wav_frame_energy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.multimodal import (
        wav_frame_energy,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    audio = pack_wav(docs, id_col="doc_id", bin_col="payload")
    return wav_frame_energy(
        audio, id_col="doc_id", audio_col="audio",
        frame_samples=_VAD_FRAME, energy_floor=_VAD_FLOOR,
    )


# ---------------------------------------------------------------------------
# Scene-cut detection through the REAL video path (motion-BMP): pack
# the document bytes as 24-bit BMP frames inside an SVC container,
# demux + decode every frame (real header parse, stride strip, row
# un-flip, BGR→RGB), and score per-frame pixel sums, a
# position-weighted sum (breaks if the decoder mishandles flip /
# stride / channel order — a plain sum would be permutation-blind),
# and the frame-difference scene-cut signal. The oracle recomputes
# every value from the raw bytes — integer-exact end to end.
# ---------------------------------------------------------------------------

_VID_FB = 144  # 8×6 px × 3 channels per frame
_VID_CUT = 40  # mean per-byte |delta| threshold; splits the corpus ~60/40


def _video_oracle() -> str:
    pix = _PIX.format(j=f"(fi * {_VID_FB} + j)")
    prev = _PIX.format(j=f"((fi - 1) * {_VID_FB} + j)")
    return f"""
    WITH fr AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / {_VID_FB}.0) AS BIGINT)))
               AS fi
      FROM documents
    ),
    st AS (
      SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
             list_sum(list_transform(range(1, {_VID_FB} + 1),
               j -> CAST({pix} AS BIGINT))) AS pixel_sum,
             list_sum(list_transform(range(1, {_VID_FB} + 1),
               j -> CAST((j - 1) * ({pix}) AS BIGINT))) AS wsum,
             CASE WHEN fi = 0 THEN 0 ELSE
               list_sum(list_transform(range(1, {_VID_FB} + 1),
                 j -> CAST(abs(({pix}) - ({prev})) AS BIGINT)))
             END AS abs_delta
      FROM fr
    )
    SELECT doc_id, frame_idx,
           CAST(pixel_sum AS BIGINT) AS pixel_sum,
           CAST(wsum AS BIGINT) AS wsum,
           CAST(abs_delta AS BIGINT) AS abs_delta,
           (frame_idx > 0 AND abs_delta >= {_VID_CUT * _VID_FB}) AS scene_cut
    FROM st
    """


@register("video_scene_cuts", oracle=_video_oracle())
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.multimodal import (
        pack_video,
        video_frame_stats,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    vids = pack_video(docs, id_col="doc_id", bin_col="payload", fw=8, fh=6)
    return video_frame_stats(
        vids, id_col="doc_id", video_col="video", cut_mean_delta=_VID_CUT
    )


# ---------------------------------------------------------------------------
# Incremental novelty, scored end-to-end: split the corpus by id,
# BUILD the persisted dedup index over the corpus side (bucketed
# band + shingle tables — the same tables the MinHash probe uses),
# then PROBE the held-out batch against it with incremental_novelty.
# This makes the continuous-ingest probe itself driver-scorable: the
# oracle recomputes batch-vs-corpus shingle novelty from first
# principles, so a probe that re-shingled the corpus wrong, dropped
# postings, or mis-joined the bucketed table diverges. The index
# tables land under the system temp dir with an sf-scoped prefix
# (build is idempotent: mode=overwrite), the one deliberate side
# effect a build/serve query pair needs.
# ---------------------------------------------------------------------------


@register(
    "incremental_novelty_probe",
    oracle=f"""
    WITH {_HASHED_INV},
    corpus_sh AS (
      SELECT DISTINCT h, g FROM inv WHERE doc_id % 4 != 0
    ),
    b AS (SELECT doc_id, h, g FROM inv WHERE doc_id % 4 = 0),
    per AS (
      SELECT b.doc_id, count(*) AS n_sh,
             sum(CASE WHEN c.h IS NULL THEN 1 ELSE 0 END) AS n_novel
      FROM b LEFT JOIN corpus_sh c ON b.h = c.h AND b.g = c.g
      GROUP BY b.doc_id
    )
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_sh AS DOUBLE) AS novelty_ratio
    FROM per
    """,
)
def incremental_novelty_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.dedup import (
        build_dedup_index,
        incremental_novelty,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"novq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_dedup_index(corpus, prefix, n_buckets=8, path=path)
    return incremental_novelty(spark, prefix, batch)


# ---------------------------------------------------------------------------
# Incremental MinHash dedup, scored end-to-end (the probe twin of
# incremental_novelty_probe): index the corpus split, probe the
# held-out batch. The oracle reuses the full-LSH banding CTEs and
# takes the CROSS slice (one side in the batch, one in the corpus),
# re-oriented so the batch doc is id_a — band agreement and Jaccard
# are symmetric, so the slice is exactly what the probe must return
# (pinned operator-level by test_incremental_near_dup_matches_full_batch).
# ---------------------------------------------------------------------------


@register(
    "incremental_near_dup_probe",
    oracle=_mh_oracle()
    + """
    SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS id_a,
           CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS id_b,
           jaccard
    FROM mh
    WHERE (id_a % 4 = 0) != (id_b % 4 = 0)
    """,
)
def incremental_near_dup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.dedup import (
        build_dedup_index,
        incremental_near_dup,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"incdupq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_dedup_index(corpus, prefix, n_buckets=8, path=path)
    return incremental_near_dup(spark, prefix, batch, threshold=0.5)


# ---------------------------------------------------------------------------
# Delete propagation through the persisted index, scored — the evict
# half of the curation loop (the admit half is the probe above): the
# corpus split is indexed, a deterministic victim subset is DELETED
# (delete_from_index tombstones, the retrieval-layer twin of the
# snapshot layer's deletion vectors), and the batch probe must stop
# returning the dead ids IMMEDIATELY — no rebuild, no compact needed.
# The oracle is the same full-LSH cross slice with the corpus side
# additionally filtered to the survivors: tombstoning must be
# indistinguishable from never having indexed the victims (pinned
# per-family, purge included, in tests/test_index_delete.py).
# ---------------------------------------------------------------------------


@register(
    "incremental_dedup_after_delete",
    oracle=_mh_oracle()
    + """
    SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS id_a,
           CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS id_b,
           jaccard
    FROM mh
    WHERE (id_a % 4 = 0) != (id_b % 4 = 0)
      AND (CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END) % 5 != 0
    """,
)
def incremental_dedup_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.dedup import (
        build_dedup_index,
        incremental_near_dup,
    )
    from exceldatatransform_py_spark.sources.maintenance import (
        delete_from_index,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"incdelq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_dedup_index(corpus, prefix, n_buckets=8, path=path)
    delete_from_index(
        spark, prefix, "dedup",
        corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
        "doc_id",
    )
    return incremental_near_dup(spark, prefix, batch, threshold=0.5)


# ---------------------------------------------------------------------------
# IVF-SQ8 served from the persisted quantized index, scored: build
# the index (cells = uint8 codes partitioned by cell, one-row
# codebook, float centroids), serve top-5 with full-precision queries
# against reconstructed corpus vectors (asymmetric distance). The
# oracle recomputes the codebook, the reconstruction, the cell
# assignment (on ORIGINAL floats, as the build does), the probes,
# and the fixed-point cosine ranking — every stage engine-exact.
# ---------------------------------------------------------------------------


def _ivf_sq8_oracle() -> str:
    recon = (
        "los[i] + (CASE WHEN his[i] = los[i] THEN 0.0 ELSE "
        "floor((CAST(embedding[i] AS DOUBLE) - los[i]) * 255.0 "
        "/ (his[i] - los[i])) END) * (his[i] - los[i]) / 255.0"
    )
    return f"""
    WITH xstats AS (
      SELECT i, min(embedding[i]) AS lo, max(embedding[i]) AS hi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY i
    ),
    arrs AS (
      SELECT list(CAST(lo AS DOUBLE) ORDER BY i) AS los,
             list(CAST(hi AS DOUBLE) ORDER BY i) AS his
      FROM xstats
    ),
    rec AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1), i -> {recon}) AS rv
      FROM embeddings, arrs
    ),
    cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ),
    asg AS (
      SELECT neighbor_id, cell FROM (
        SELECT e.vec_id AS neighbor_id, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS ark
        FROM embeddings e, cents c
      ) WHERE ark = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid
               ) AS prk
        FROM embeddings q, cents c WHERE q.vec_id < 10
      ) WHERE prk <= 2
    ),
    s AS (
      SELECT p.query_id, r.vec_id AS neighbor_id,
             {_cos_sql('p.qv', 'r.rv')} AS cosine
      FROM probes p
      JOIN asg a USING (cell)
      JOIN rec r ON r.vec_id = a.neighbor_id
      WHERE p.query_id != r.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM s
    QUALIFY rk <= 5
    """


@register("ann_ivf_sq8_topk", oracle=_ivf_sq8_oracle())
def ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.similarity import (
        build_ivf_sq8_index,
        ivf_sq8_topk_from_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"ivfsq8q_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_ivf_sq8_index(
        emb, centroids, prefix, path=path, id_col="vec_id",
        vec_col="embedding",
    )
    return ivf_sq8_topk_from_index(
        spark, prefix, emb.filter(F.col("vec_id") < 10),
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
    )


# ---------------------------------------------------------------------------
# IVF-PQ served from the persisted product-quantized index, scored:
# per-subspace codebooks are TRAINED (fixed-point joint Lloyd's over
# the m subspaces — engine-exact, like kmeans_embeddings), the corpus
# is encoded to m code ids per vector, and top-5 serves with
# full-precision queries against codebook reconstructions (asymmetric
# distance). The oracle replays the whole thing: subvector
# quantization, every training round, the final encode, the
# reconstruction, the cell assignment on ORIGINAL floats, the probes,
# and the fixed-point cosine ranking. k=16 codes per subspace at this
# corpus scale (256 on a real corpus would make half the codebook
# singleton cells and the recall trivially 1.0); the operator
# defaults to the production 256.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_SUBD, _PQ_K, _PQ_ITERS = 16, 4, 16, 2
_PQ_REFINE = 10
_PQ_SCALE = 1_000_000

_PQ_D2 = (
    "CAST(list_sum(list_transform(range(1, len(p.xs) + 1), "
    "i -> (p.xs[i] - c.cs[i]) * (p.xs[i] - c.cs[i]))) AS BIGINT)"
)


def _pq_round(t: int) -> str:
    """One joint assignment round over all m subspaces: score every
    (vector, sub) row against c{t-1}'s same-sub entries, keep the
    (d2, cid)-lexicographic argmin."""
    return f""",
    pqs{t} AS (
      SELECT p.vec_id, p.sub, c.cid, {_PQ_D2} AS d2
      FROM pqpts p JOIN pqc{t - 1} c ON p.sub = c.sub
    ),
    pqa{t} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM pqs{t})
      WHERE rn = 1
    )"""


def _pq_train_ctes(
    m: int = _PQ_M,
    sub_d: int = _PQ_SUBD,
    k: int = _PQ_K,
    iters: int = _PQ_ITERS,
    scale: int = _PQ_SCALE,
    residual: bool = False,
) -> str:
    """CTE chain (no WITH keyword) ending at the trained codebooks
    ``pqc{iters - 1}`` plus the final corpus encode ``pqa{iters}`` —
    mirrors ``similarity.pq_train_codebooks`` (iters - 1 updates)
    followed by ``pq_encode``. Always defines the coarse quantizer
    CTEs ``cents``/``asg`` first (the serve probes need them anyway);
    with ``residual`` the encoded points are x − centroid(cell) —
    exact IEEE double subtraction, replaying
    ``similarity._pq_residualize``."""
    subs = ", ".join(str(s) for s in range(m))
    dim = m * sub_d
    parts = [
        f"""cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ),
    asg AS (
      SELECT neighbor_id, cell FROM (
        SELECT e.vec_id AS neighbor_id, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS ark
        FROM embeddings e, cents c
      ) WHERE ark = 1
    )"""
    ]
    if residual:
        parts.append(f""",
    pqres AS (
      SELECT e.vec_id,
             list_transform(range(1, {dim} + 1),
               i -> CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    - CAST(c.cvec[CAST(i AS INTEGER)] AS DOUBLE)) AS rvec
      FROM embeddings e
      JOIN asg a ON e.vec_id = a.neighbor_id
      JOIN cents c ON a.cell = c.cid
    ),
    pqpts AS (
      SELECT vec_id, sub,
             list_transform(rvec[sub * {sub_d} + 1 : sub * {sub_d} + {sub_d}],
               e -> CAST(floor(e * {scale}.0) AS BIGINT)) AS xs
      FROM pqres, UNNEST([{subs}]) AS u(sub)
    )""")
    else:
        parts.append(f""",
    pqpts AS (
      SELECT vec_id, sub,
             list_transform(embedding[sub * {sub_d} + 1 : sub * {sub_d} + {sub_d}],
               e -> CAST(floor(CAST(e AS DOUBLE) * {scale}.0) AS BIGINT)) AS xs
      FROM embeddings, UNNEST([{subs}]) AS u(sub)
    )""")
    parts.append(f""",
    pqc0 AS (SELECT sub, vec_id AS cid, xs AS cs FROM pqpts WHERE vec_id < {k})""")
    for t in range(1, iters):
        parts.append(_pq_round(t))
        parts.append(f""",
    pqe{t} AS (
      SELECT a.sub, a.cid, unnest(range(1, len(p.xs) + 1)) AS i, unnest(p.xs) AS x
      FROM pqa{t} a JOIN pqpts p ON a.vec_id = p.vec_id AND a.sub = p.sub
    ),
    pqm{t} AS (
      SELECT sub, cid, i,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
      FROM pqe{t} GROUP BY sub, cid, i
    ),
    pqc{t} AS (SELECT sub, cid, list(cx ORDER BY i) AS cs
               FROM pqm{t} GROUP BY sub, cid)""")
    parts.append(_pq_round(iters))
    return "".join(parts)


def _pq_serve_ctes(residual: bool = False) -> str:
    """Training + encode + reconstruction + IVF probe CTEs ending at
    ``s`` — the PQ-scored (query, candidate) pairs. Shared by the
    pure asymmetric-distance oracle, the refine oracle, and the
    residual oracle (which reconstructs centroid + decoded
    residual)."""
    if residual:
        rec = f"""
    pqrec0 AS (
      SELECT a.vec_id,
             flatten(list(
               list_transform(c.cs, v -> CAST(v AS DOUBLE) / {_PQ_SCALE}.0)
               ORDER BY a.sub)) AS rr
      FROM pqa{_PQ_ITERS} a
      JOIN pqc{_PQ_ITERS - 1} c ON a.sub = c.sub AND a.cid = c.cid
      GROUP BY a.vec_id
    ),
    pqrec AS (
      SELECT r.vec_id,
             list_transform(range(1, {_PQ_M * _PQ_SUBD} + 1),
               i -> r.rr[CAST(i AS INTEGER)]
                    + CAST(c.cvec[CAST(i AS INTEGER)] AS DOUBLE)) AS rv
      FROM pqrec0 r
      JOIN asg a ON r.vec_id = a.neighbor_id
      JOIN cents c ON a.cell = c.cid
    ),"""
    else:
        rec = f"""
    pqrec AS (
      SELECT a.vec_id,
             flatten(list(
               list_transform(c.cs, v -> CAST(v AS DOUBLE) / {_PQ_SCALE}.0)
               ORDER BY a.sub)) AS rv
      FROM pqa{_PQ_ITERS} a
      JOIN pqc{_PQ_ITERS - 1} c ON a.sub = c.sub AND a.cid = c.cid
      GROUP BY a.vec_id
    ),"""
    return f"""{_pq_train_ctes(residual=residual)},{rec}
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid
               ) AS prk
        FROM embeddings q, cents c WHERE q.vec_id < 10
      ) WHERE prk <= 2
    ),
    s AS (
      SELECT p.query_id, r.vec_id AS neighbor_id,
             {_cos_sql('p.qv', 'r.rv')} AS cosine
      FROM probes p
      JOIN asg a USING (cell)
      JOIN pqrec r ON r.vec_id = a.neighbor_id
      WHERE p.query_id != r.vec_id
    )"""


def _ivf_pq_oracle() -> str:
    return f"""
    WITH {_pq_serve_ctes()}
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM s
    QUALIFY rk <= 5
    """


@register("ann_ivf_pq_topk", oracle=_ivf_pq_oracle())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"ivfpqq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_ivf_pq_index(
        emb, centroids, prefix, path=path, id_col="vec_id",
        vec_col="embedding", m=_PQ_M, dim=_PQ_M * _PQ_SUBD, k=_PQ_K,
        iters=_PQ_ITERS,
        # raw-subvector encoding, deliberately: with the stand-in
        # coarse quantizer (first 8 vectors), residual encoding was
        # MEASURED to not improve recall on this isotropic corpus
        # (the quantizer explains ~4% of variance, so residual
        # magnitudes ~ vector magnitudes); ann_ivf_pq_residual_topk
        # scores the residual path.
        residual=False,
    )
    return ivf_pq_topk_from_index(
        spark, prefix, emb.filter(F.col("vec_id") < 10),
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
    )


# ---------------------------------------------------------------------------
# IVF-PQ + exact refine, scored — the two-stage serve every PQ
# deployment actually runs (FAISS IndexRefineFlat): PQ asymmetric
# distances pick each query's top k·10 candidates from the probed
# cells (index bytes only), then those ~50 rows per query are
# re-scored with their ORIGINAL float vectors fetched by id and the
# exact top-5 wins. Measured here: refine lifts recall@5 from ~0.3
# (pure PQ at 16x compression) to 0.82-0.86 — the float-IVF ceiling
# is 0.86-0.90 — while full vectors are read for only k·10 ids per
# query. The oracle replays training, encode, PQ candidate ranking,
# and the exact re-scoring.
# ---------------------------------------------------------------------------


def _ivf_pq_refine_oracle() -> str:
    return f"""
    WITH {_pq_serve_ctes()},
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS prk
        FROM s
      ) WHERE prk <= {5 * _PQ_REFINE}
    ),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             {_cos_sql('q.embedding', 'e.embedding')} AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM rescored
    QUALIFY rk <= 5
    """


@register("ann_ivf_pq_refine_topk", oracle=_ivf_pq_refine_oracle())
def ann_ivf_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"ivfpqr_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_ivf_pq_index(
        emb, centroids, prefix, path=path, id_col="vec_id",
        vec_col="embedding", m=_PQ_M, dim=_PQ_M * _PQ_SUBD, k=_PQ_K,
        iters=_PQ_ITERS,
        # raw-subvector encoding, deliberately: with the stand-in
        # coarse quantizer (first 8 vectors), residual encoding was
        # MEASURED to not improve recall on this isotropic corpus
        # (the quantizer explains ~4% of variance, so residual
        # magnitudes ~ vector magnitudes); ann_ivf_pq_residual_topk
        # scores the residual path.
        residual=False,
    )
    return ivf_pq_topk_from_index(
        spark, prefix, emb.filter(F.col("vec_id") < 10),
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
        refine_corpus=emb, refine_factor=_PQ_REFINE,
    )


# ---------------------------------------------------------------------------
# IVF-PQ with RESIDUAL encoding, scored — FAISS IVFPQ's actual
# encoding space: codebooks are trained on x - centroid(cell(x)) and
# the serve reconstructs centroid + decoded residual. Residuals
# cluster around the origin regardless of cell, so codebook capacity
# goes to within-cell geometry; on THIS corpus (isotropic synthetic
# embeddings, stand-in quantizer) the measured recall matches the raw
# encoding - the win appears when the coarse quantizer explains real
# variance (see test_retrieval's trained-quantizer floor). The oracle
# replays residualization (exact IEEE double subtraction), every
# joint Lloyd round over the residual subvectors, the encode, and the
# centroid-plus-decode reconstruction.
# ---------------------------------------------------------------------------


def _ivf_pq_residual_oracle() -> str:
    return f"""
    WITH {_pq_serve_ctes(residual=True)}
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
    FROM s
    QUALIFY rk <= 5
    """


@register("ann_ivf_pq_residual_topk", oracle=_ivf_pq_residual_oracle())
def ann_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"ivfpqres_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_ivf_pq_index(
        emb, centroids, prefix, path=path, id_col="vec_id",
        vec_col="embedding", m=_PQ_M, dim=_PQ_M * _PQ_SUBD, k=_PQ_K,
        iters=_PQ_ITERS, residual=True,
    )
    return ivf_pq_topk_from_index(
        spark, prefix, emb.filter(F.col("vec_id") < 10),
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
    )


# ---------------------------------------------------------------------------
# IVF-PQ served by ASYMMETRIC DISTANCE COMPUTATION, scored — FAISS's
# actual serve: per (query, probed cell) the m·k codebook entries'
# partial dots/norms go into ONE broadcast lookup table, and each
# candidate scores by m map lookups on its code ids — no
# per-candidate reconstruction, (dim/m)x less arithmetic, the cell
# scan stays on code bytes. The scaled-integer dot terms are summed
# in associative bigint arithmetic, so ADC is BIT-IDENTICAL to the
# reconstruction serve on the same index (pinned in test_retrieval);
# the oracle is therefore the same residual-reconstruction replay
# that scores ann_ivf_pq_residual_topk.
# ---------------------------------------------------------------------------


@register("ann_ivf_pq_adc_topk", oracle=_ivf_pq_residual_oracle())
def ann_ivf_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_adc_topk_from_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"ivfpqadc_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_ivf_pq_index(
        emb, centroids, prefix, path=path, id_col="vec_id",
        vec_col="embedding", m=_PQ_M, dim=_PQ_M * _PQ_SUBD, k=_PQ_K,
        iters=_PQ_ITERS, residual=True,
    )
    return ivf_pq_adc_topk_from_index(
        spark, prefix, emb.filter(F.col("vec_id") < 10),
        id_col="vec_id", vec_col="embedding", k=5, n_probe=2,
    )


# ---------------------------------------------------------------------------
# Incremental SimHash probe, scored end-to-end (completing the scored
# build+probe family: MinHash ✓ novelty ✓ IVF-SQ8 ✓): index the
# corpus id-split's band table, probe the held-out batch.
# max_band_docs=None keeps the pigeonhole recall exact, so the oracle
# is the plain cross-banded hamming join with no hot-bucket modeling.
# ---------------------------------------------------------------------------


def _incr_simhash_oracle() -> str:
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(SIMHASH_BANDS)
    )
    return f"""
    WITH sifp AS ({_simhash_oracle(p='si')}),
    sib AS (
      SELECT doc_id, simhash, band, (simhash >> shift) & mask AS bv
      FROM sifp, (VALUES {band_rows}) AS bands(band, shift, mask)
    ),
    sip AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS afp, b.simhash AS bfp
      FROM sib a JOIN sib b USING (band, bv)
      WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 != 0
    ),
    sih AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(afp, bfp)) AS INTEGER) AS hamming
      FROM sip
    )
    SELECT id_a, id_b, hamming FROM sih WHERE hamming <= 3
    """


@register("incremental_simhash_probe", oracle=_incr_simhash_oracle())
def incremental_simhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from exceldatatransform_py_spark.operators.dedup import (
        build_simhash_index,
        incremental_simhash_near_dup,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    prefix = f"incsimq_{token}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}")
    build_simhash_index(corpus, prefix, n_buckets=8, path=path)
    return incremental_simhash_near_dup(
        spark, prefix, batch, ham_max=3, max_band_docs=None
    )


# ---------------------------------------------------------------------------
# Zero-crossing rate through the real WAV path — the second classic
# VAD feature (energy says HOW LOUD, ZCR says roughly WHAT KIND:
# voiced speech low, fricatives/noise high). Strict sign crossings
# between consecutive decoded samples, windows never straddling; the
# oracle recomputes each window from the raw bytes (the ×256 widening
# never changes a sign, so it checks (b-128) products directly).
# ---------------------------------------------------------------------------


@register(
    "wav_zero_crossing_rate",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, length(text) AS n FROM documents
    ),
    win AS (
      SELECT doc_id, n, CAST(w AS INTEGER) AS frame_idx,
             CAST(w * {_VAD_FRAME} + 1 AS BIGINT) AS a,
             CAST(least((w + 1) * {_VAD_FRAME}, n) AS BIGINT) AS b
      FROM s, UNNEST(range(0, CAST(ceil(n / {_VAD_FRAME}.0) AS BIGINT))) AS u(w)
    )
    SELECT doc_id, frame_idx,
           CAST(b - a + 1 AS INTEGER) AS n_samples,
           CAST(COALESCE(list_sum(list_transform(range(a, b),
             j -> CASE WHEN ({_PIX.format(j="j")} - 128)
                        * ({_PIX.format(j="(j + 1)")} - 128) < 0
                       THEN 1 ELSE 0 END)), 0) AS INTEGER) AS zero_crossings
    FROM win JOIN documents USING (doc_id)
    """,
)
def wav_zero_crossing_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.multimodal import (
        wav_zero_crossings,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    audio = pack_wav(docs, id_col="doc_id", bin_col="payload")
    return wav_zero_crossings(
        audio, id_col="doc_id", audio_col="audio", frame_samples=_VAD_FRAME
    )


# ---------------------------------------------------------------------------
# Stopword stripping — the EDIT counterpart to text_quality's
# stopword RATIO (profile vs transform, the same split as
# duplicate_ngram_spans vs span_dedup_clean): drop a fixed stopword
# set from each document and emit the rewritten text. Map-only HOF
# filter over the token array — no explode, no shuffle; the oracle
# recomputes the exact rewritten string, so a tokenizer or filter
# divergence breaks the hash. The set is the corpus's highest-DF
# function words (this synthetic corpus speaks database-ese).
# ---------------------------------------------------------------------------

_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "by", "data", "for", "in", "is", "join", "of",
    "on", "row", "the", "to", "with",
)


@register(
    "stopword_strip",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_FP_TOKS} AS ts FROM documents
    ),
    kept AS (
      SELECT doc_id, ts,
             list_filter(ts, t -> t NOT IN
               ({", ".join("'" + w + "'" for w in _STOPWORDS)})) AS ks
      FROM toks
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(ts) - len(ks) AS BIGINT) AS n_stopwords,
           array_to_string(ks, ' ') AS clean_text
    FROM kept
    """,
)
def stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    toks = ws_tokens("text")
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    kept = F.filter(toks, lambda t: ~F.array_contains(stop, t))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("bigint").alias("n_stopwords"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Decontamination — the EDIT counterpart to contamination_overlap
# (profile says WHICH train docs leak benchmark content; this returns
# the corpus you actually train on): drop every train-split document
# sharing ≥ 20% of its shingles with any benchmark document, keep the
# rest. The removal itself is one anti-join against the (small) set
# of contaminated ids — at 100 TB everything expensive is the shared
# shingle index the profile already pays for.
# ---------------------------------------------------------------------------


@register(
    "decontaminate_train_split",
    oracle=f"""
    WITH {_HASHED_INV},
    flags AS (SELECT doc_id, {_BENCH_FLAG} AS is_bench FROM documents),
    fi AS (
      SELECT i.doc_id, i.n_sh, i.h, i.g, f.is_bench
      FROM inv i JOIN flags f ON i.doc_id = f.doc_id
    ),
    hits AS (
      SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc,
             a.n_sh AS n_train, count(*) AS common
      FROM fi a JOIN fi b ON a.h = b.h AND a.g = b.g
      WHERE NOT a.is_bench AND b.is_bench
      GROUP BY 1, 2, 3
    ),
    contaminated AS (
      SELECT DISTINCT train_doc FROM hits
      WHERE CAST(common AS DOUBLE) / CAST(n_train AS DOUBLE) >= 0.2
    )
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d JOIN flags f USING (doc_id)
    WHERE NOT f.is_bench
      AND d.doc_id NOT IN (SELECT train_doc FROM contaminated)
    """,
)
def decontaminate_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, id_col="doc_id", text_col="text", n=3)
    is_bench = md5_hash32(F.col("doc_id"), seed=9) % 20 == 0
    flags = docs.select("doc_id", is_bench.alias("is_bench"))
    fi = inv.join(flags, inv.doc == flags.doc_id).select(
        "doc", "n_sh", "h", "g", "is_bench"
    )
    a = fi.filter(~F.col("is_bench")).select(
        F.col("doc").alias("train_doc"), F.col("n_sh").alias("n_train"),
        "h", "g",
    )
    b = fi.filter(F.col("is_bench")).select(
        F.col("doc").alias("bench_doc"), "h", "g"
    )
    contaminated = (
        a.join(b, ["h", "g"])
        .groupBy("train_doc", "bench_doc", "n_train")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(
            F.col("common").cast("double") / F.col("n_train").cast("double")
            >= 0.2
        )
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )
    train = docs.join(flags.filter(~F.col("is_bench")).select("doc_id"), "doc_id")
    return train.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-quality audit — "measure, don't guess" for the
# sketch itself (the dedup twin of ann_recall_at_k): for every banded
# candidate pair, the signature-agreement estimate of Jaccard
# (matching components / k) next to the EXACT shingle Jaccard and the
# absolute error. Signatures are deterministic double-hash folds, so
# the estimate, the truth, and the error are all engine-exact;
# per-pair rows (no float reduction) keep the hash comparison exact.
# At 100 TB this is the audit that justifies trusting banding
# thresholds: error quantified on real pairs, not assumed from theory.
# ---------------------------------------------------------------------------


def _mh_estimate_oracle() -> str:
    sig_cols = ", ".join(
        f"min(h % 4294967296 + {i} * (g % 4294967296)) AS s{i}"
        for i in range(_MH_K)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bucket FROM esigs".format(
            b=bi,
            cols=", ".join(
                f"CAST(s{bi * _MH_R + j} AS VARCHAR)" for j in range(_MH_R)
            ),
        )
        for bi in range(_MH_BANDS)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(_MH_K)
    )
    return f"""
    WITH {_HASHED_INV},
    esigs AS (SELECT doc_id, {sig_cols} FROM inv GROUP BY doc_id),
    ebands AS ({band_selects}),
    ecand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM ebands x JOIN ebands y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    epairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      FROM inv a JOIN inv b
        ON a.h = b.h AND a.g = b.g AND a.doc_id < b.doc_id
      JOIN ecand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT p.id_a, p.id_b,
           CAST(p.common AS DOUBLE)
             / CAST(p.n_a + p.n_b - p.common AS DOUBLE) AS jaccard,
           ({match_sum}) / {_MH_K}.0 AS est_jaccard,
           abs(({match_sum}) / {_MH_K}.0
               - CAST(p.common AS DOUBLE)
                 / CAST(p.n_a + p.n_b - p.common AS DOUBLE)) AS abs_err
    FROM epairs p
    JOIN esigs sa ON sa.doc_id = p.id_a
    JOIN esigs sb ON sb.doc_id = p.id_b
    """


@register("minhash_estimate_error", oracle=_mh_estimate_oracle())
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    exact = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", n=3, k=_MH_K,
        bands=_MH_BANDS, threshold=0.0,
    )
    sigs = minhash_signature(docs, id_col="doc_id", text_col="text",
                             n=3, k=_MH_K)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"s{i}").alias(f"__a{i}") for i in range(_MH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"s{i}").alias(f"__b{i}") for i in range(_MH_K)],
    )
    matches = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        for i in range(_MH_K)
    )
    est = matches.cast("double") / F.lit(float(_MH_K))
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "jaccard",
            est.alias("est_jaccard"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Curation pipeline v2 — the round-6 transforms composed in ONE lazy
# plan, the shape a real ingest job runs: decontaminate (drop train
# docs leaking benchmark shingles) → stopword-strip (map-side token
# filter) → exact dedup on the CLEANED text (32-byte digest keys) →
# per-source corpus accounting. Everything shuffles on digests or the
# tiny source key; the only full-text pass is the initial scan.
# ---------------------------------------------------------------------------


@register(
    "curation_pipeline_v2",
    oracle=f"""
    WITH {_HASHED_INV},
    flags AS (SELECT doc_id, {_BENCH_FLAG} AS is_bench FROM documents),
    fi AS (
      SELECT i.doc_id, i.n_sh, i.h, i.g, f.is_bench
      FROM inv i JOIN flags f ON i.doc_id = f.doc_id
    ),
    hits AS (
      SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc,
             a.n_sh AS n_train, count(*) AS common
      FROM fi a JOIN fi b ON a.h = b.h AND a.g = b.g
      WHERE NOT a.is_bench AND b.is_bench
      GROUP BY 1, 2, 3
    ),
    contaminated AS (
      SELECT DISTINCT train_doc FROM hits
      WHERE CAST(common AS DOUBLE) / CAST(n_train AS DOUBLE) >= 0.2
    ),
    train AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN flags f USING (doc_id)
      WHERE NOT f.is_bench
        AND d.doc_id NOT IN (SELECT train_doc FROM contaminated)
    ),
    cleaned AS (
      SELECT doc_id, source,
             list_filter({_FP_TOKS}, t -> t NOT IN
               ({", ".join("'" + w + "'" for w in _STOPWORDS)})) AS ks
      FROM train
    ),
    dd AS (
      SELECT md5(array_to_string(ks, ' ')) AS dkey,
             min(doc_id) AS rep,
             count(*) AS n_copies,
             min(len(ks)) AS n_kept
      FROM cleaned GROUP BY 1
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_unique_docs,
           CAST(sum(dd.n_copies) AS BIGINT) AS n_docs_in,
           CAST(sum(dd.n_kept) AS BIGINT) AS n_tokens
    FROM dd JOIN cleaned c ON c.doc_id = dd.rep
    GROUP BY c.source
    """,
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    inv = shingle_index(docs, id_col="doc_id", text_col="text", n=3)
    is_bench = md5_hash32(F.col("doc_id"), seed=9) % 20 == 0
    flags = docs.select("doc_id", is_bench.alias("is_bench"))
    fi = inv.join(flags, inv.doc == flags.doc_id).select(
        "doc", "n_sh", "h", "g", "is_bench"
    )
    a = fi.filter(~F.col("is_bench")).select(
        F.col("doc").alias("train_doc"), F.col("n_sh").alias("n_train"),
        "h", "g",
    )
    b = fi.filter(F.col("is_bench")).select(
        F.col("doc").alias("bench_doc"), "h", "g"
    )
    contaminated = (
        a.join(b, ["h", "g"])
        .groupBy("train_doc", "bench_doc", "n_train")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(
            F.col("common").cast("double") / F.col("n_train").cast("double")
            >= 0.2
        )
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )
    train = (
        docs.join(flags.filter(~F.col("is_bench")).select("doc_id"), "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "text")
    )
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    cleaned = train.select(
        "doc_id", "source",
        F.filter(ws_tokens("text"),
                 lambda t: ~F.array_contains(stop, t)).alias("ks"),
    ).withColumn("n_kept", F.size("ks"))
    dd = (
        cleaned.groupBy(F.md5(F.concat_ws(" ", "ks")).alias("dkey"))
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_kept").alias("n_kept"),
        )
    )
    rep_src = dd.join(
        cleaned.select(F.col("doc_id").alias("rep"), "source"), "rep"
    )
    return rep_src.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique_docs"),
        F.sum("n_copies").cast("bigint").alias("n_docs_in"),
        F.sum("n_kept").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval — the production serving pattern hybrid RRF
# does NOT cover: a cheap lexical recall stage (BM25 top-20) followed
# by an expensive dense RERANK of just those candidates (exact cosine,
# final top-5). At 100 TB the reranker touches |Q| × 20 vectors
# instead of |Q| × N — the candidate set, not the corpus, pays the
# dense cost. Only candidates with an embedding are rerankable (inner
# join on the id), identically in both engines.
# ---------------------------------------------------------------------------

_RERANK_CAND = 20


@register(
    "rerank_bm25_dense",
    oracle=f"""
    WITH rcand AS ({_bm25_topk_sql("rb", _RERANK_CAND)}),
    rsc AS (
      SELECT c.query_id, c.doc_id, c.rk AS bm25_rk,
             {_cos_sql('q.embedding', 'e.embedding')} AS cosine
      FROM rcand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.doc_id
    )
    SELECT query_id, doc_id, bm25_rk, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, doc_id) AS INTEGER)
             AS rk
    FROM rsc
    QUALIFY rk <= {_BM25_K}
    """,
)
def rerank_bm25_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from exceldatatransform_py_spark.operators.retrieval import (
        bm25_stage,
        bm25_topk,
        tokenize,
    )
    from exceldatatransform_py_spark.operators.similarity import (
        _cosine_pre,
        _norm,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    staged = bm25_stage(docs)
    q_terms = (
        tokenize(docs.filter(F.col("doc_id") < _BM25_NQ), "doc_id", "text")
        .select(F.col("doc_id").alias("query_id"), "tok")
        .distinct()
    )
    cand = bm25_topk(
        q_terms, staged["postings"], staged["doclen"], staged["stats"],
        k=_RERANK_CAND,
    ).select("query_id", "doc_id", F.col("rk").alias("bm25_rk"))

    emb = read_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        _norm(F.col("embedding")).alias("__qn"),
    )
    cv = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("__cv"),
        _norm(F.col("embedding")).alias("__cn"),
    )
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "doc_id")
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("__cv"),
                        F.col("__qn"), F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _BM25_K)
        .select("query_id", "doc_id", "bm25_rk", "cosine", "rk")
    )


# ---------------------------------------------------------------------------
# Trainable quality classifier — hashed-unigram features → hard-sigmoid
# logistic regression trained by N exact fixed-point gradient rounds
# (operators.classifier). The CCNet/fastText move: distill the
# heuristic multi-signal quality gate into ONE learned linear scorer
# over cheap portable features. The oracle unrolls all training rounds
# as CTEs — the same pattern that proves k-means and the PCA power
# iteration — so a 4-deep iterative TRAINER hash-matches across
# engines, margins and all.
# ---------------------------------------------------------------------------

# B=64 leaves the ~31-word synthetic vocab nearly collision-free
# (the stopword buckets carry clean signal); C=32 keeps per-round
# margin moves inside the hard-sigmoid's ±2S active band — larger
# steps were measured to oscillate all-pos ↔ all-neg and never learn.
# Measured: train accuracy 0.758 vs 0.516 majority at sf0.01, 0.704
# vs 0.528 at sf0.001; accuracy plateaus by round 6 at both SFs, so
# 6 rounds buys the same model two Spark jobs cheaper.
_QC_B, _QC_SEED, _QC_ITERS = 64, 21, 6
_QC_SCALE, _QC_C = 1 << 20, 32


def _qc_prob_sql(m: str) -> str:
    """Hard-sigmoid fixed-point prediction: clamp(S/2 + m//4, 0, S)."""
    return (
        f"least(greatest({_QC_SCALE // 2} + {m} // 4, 0), {_QC_SCALE})"
    )


def _qc_train_ctes(train_gate: str = "TRUE") -> str:
    """CTE chain: features + weak labels + {_QC_ITERS} unrolled
    gradient rounds, ending at weights ``qcw{_QC_ITERS}(j, w)``.
    The weak label is the stopword-DENSITY gate (16·n_stop ≥
    n_tokens, i.e. ratio ≥ 1/16 — an exact integer comparison): the
    one component of the heuristic quality score that actually splits
    this corpus into two classes (~50/50 at every SF), so training has
    a real decision boundary to find. ``train_gate`` (SQL over the
    label row's ``id``) restricts the GRADIENT rounds to the training
    split; features/labels stay corpus-wide for scoring."""
    h32 = _H32.format(seed=_QC_SEED, x="tok")
    parts = [f"""qcqt AS (
      SELECT doc_id,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens,
             CAST({_stop_hits(_QTOKS, "en")} AS BIGINT) AS n_stop
      FROM documents
    ),
    qcl AS MATERIALIZED (
      SELECT doc_id AS id,
             CAST(16 * n_stop >= n_tokens AS BIGINT) AS y
      FROM qcqt
    ),
    qcf AS MATERIALIZED (
      SELECT doc_id AS id, {h32} % {_QC_B} AS j,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM (SELECT doc_id, unnest({_QTOKS}) AS tok FROM documents) qcu
      GROUP BY 1, 2
      UNION ALL
      SELECT doc_id AS id, CAST({_QC_B} AS BIGINT) AS j,
             CAST(1 AS BIGINT) AS x
      FROM documents
    ),
    qctr AS (SELECT id, y FROM qcl WHERE {train_gate}),
    qcn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qctr),
    qcw0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM qcf)"""]
    for t in range(1, _QC_ITERS + 1):
        parts.append(f""",
    qcm{t} AS (
      SELECT f.id, CAST(SUM(f.x * w.w) AS BIGINT) AS m
      FROM qcf f JOIN qctr r USING (id)
      JOIN qcw{t - 1} w USING (j) GROUP BY f.id
    ),
    qce{t} AS (
      SELECT m.id, l.y * {_QC_SCALE} - {_qc_prob_sql("m.m")} AS e
      FROM qcm{t} m JOIN qctr l USING (id)
    ),
    qcg{t} AS (
      SELECT f.j, CAST(SUM(e.e * f.x) AS BIGINT) AS g
      FROM qcf f JOIN qce{t} e USING (id) GROUP BY f.j
    ),
    qcw{t} AS MATERIALIZED (
      SELECT w.j, w.w + COALESCE(g.g, 0) // (GREATEST(n.n, 1) * {_QC_C}) AS w
      FROM qcw{t - 1} w LEFT JOIN qcg{t} g USING (j) CROSS JOIN qcn n
    )""")
    return "".join(parts)


def _qc_scored(
    spark: SparkSession, sf_dir: str, train_filter=None, extra=()
) -> DataFrame:
    from exceldatatransform_py_spark.operators.classifier import (
        dense_hashed_features,
        logreg_train,
        scored_columns,
        token_margin,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    # weak label: the stopword-density gate (exact integer test
    # 16·n_stop ≥ n_tokens) — the quality-score component with a real
    # ~50/50 decision boundary on this corpus — computed row-locally
    # in the SAME projection that tokenizes, so staging needs no join.
    toks = ws_tokens(F.lower(F.col("text")))
    base = docs.select(
        F.col("doc_id").alias("id"),
        (F.lit(16) * stopword_hits(toks, "en") >= F.size(toks))
        .cast("long").alias("y"),
        toks.alias("__toks"),
        *extra,
    )
    vecs = dense_hashed_features(
        base, F.col("__toks"), id_col="id", carry=("y",),
        n_buckets=_QC_B, seed=_QC_SEED,
    )
    # TRAIN over the dense design matrix (one featurization shuffle,
    # iters map-only gradient rounds over the cache, released before
    # returning) — then SERVE shuffle-free: the margin is re-derived
    # per token from the weight literals (token_margin — int64
    # addition is associative, so it hash-matches the dense dot
    # product the oracle computes), making the whole scored frame a
    # single map pass over the documents scan. The r8 variant eagerly
    # checkpointed a corpus-sized scored frame here; this is strictly
    # cheaper for every consumer and is the 100 TB serving shape
    # (broadcast B+1 longs, no design matrix at scoring time).
    w = logreg_train(
        vecs, dim=_QC_B + 1, iters=_QC_ITERS, scale=_QC_SCALE, lr_c=_QC_C,
        train_filter=train_filter,
    )
    return scored_columns(
        base.select(
            "id", F.col("y").cast("int").alias("label"), "__toks",
            *extra,
        ),
        token_margin(F.col("__toks"), w, _QC_B, seed=_QC_SEED),
        scale=_QC_SCALE,
    )


@register(
    "quality_classifier_score",
    oracle=f"""
    WITH {_qc_train_ctes()},
    qcms AS (
      SELECT f.id, CAST(SUM(f.x * w.w) AS BIGINT) AS m
      FROM qcf f JOIN qcw{_QC_ITERS} w USING (j) GROUP BY f.id
    )
    SELECT l.id AS doc_id,
           CAST(l.y AS INTEGER) AS label,
           m.m AS margin_fixed,
           CAST({_qc_prob_sql("m.m")} AS BIGINT) AS prob_fixed,
           {_qc_prob_sql("m.m")} * 2 >= {_QC_SCALE} AS predicted
    FROM qcms m JOIN qcl l USING (id)
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _qc_scored(spark, sf_dir).select(
        F.col("id").alias("doc_id"),
        "label", "margin_fixed", "prob_fixed", "predicted",
    )


# ---------------------------------------------------------------------------
# The classifier wired in as the corpus gate — the pipeline variant:
# train, score, keep docs the model predicts high-quality, account per
# source (kept/total docs, kept exact token sum). The 100 TB shape is
# train-once-score-everywhere: training shuffles only the hashed
# feature frame; the gate itself is one broadcast of (B+1) weights.
# ---------------------------------------------------------------------------


@register(
    "classifier_gated_corpus",
    oracle=f"""
    WITH {_qc_train_ctes()},
    qcms AS (
      SELECT f.id, CAST(SUM(f.x * w.w) AS BIGINT) AS m
      FROM qcf f JOIN qcw{_QC_ITERS} w USING (j) GROUP BY f.id
    ),
    qcpred AS (
      SELECT m.id, {_qc_prob_sql("m.m")} * 2 >= {_QC_SCALE} AS predicted
      FROM qcms m
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN p.predicted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN p.predicted
                         THEN len({_QTOKS}) ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM documents d JOIN qcpred p ON d.doc_id = p.id
    GROUP BY d.source
    """,
)
def classifier_gated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the scored frame is row-local over the documents scan (r9: the
    # gate margin is served per-token from weight literals), so the
    # per-source accounting needs NO doc×doc join — carry `source`
    # through scoring and aggregate directly: scan → map → one groupBy.
    scored = _qc_scored(spark, sf_dir, extra=("source",))
    d = scored.select(
        "source", "predicted",
        F.size("__toks").cast("long").alias("n_toks"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.col("predicted").cast("bigint")).cast("bigint").alias(
            "n_kept"
        ),
        F.sum(
            F.when(F.col("predicted"), F.col("n_toks")).otherwise(F.lit(0))
        ).cast("bigint").alias("kept_tokens"),
    )


# ---------------------------------------------------------------------------
# Full BPE training loop — the merge TABLE after N rounds
# (operators.bpe). bpe_merge_candidates is round 1 of this loop; here
# the loop runs: per round, count adjacent symbol pairs weighted by
# word frequency, take the winner (count DESC, pair ASC), greedily
# merge it everywhere, repeat. The oracle unrolls every round as CTEs
# — pair counts, one-row winner, and the SAME left-to-right
# string-fold rebuild (list_reduce there, aggregate here) — so the
# whole trained tokenizer model hash-matches, merge order and all.
# Corpus cost: ONE tokenize + word-count aggregate; rounds then run on
# the distinct-word table (model-sized at any corpus scale).
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _bpe_train_ctes() -> str:
    parts = [f"""bpw AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({_QTOKS}) AS w FROM documents) bpu
      GROUP BY w
    ),
    bps0 AS (
      SELECT w, c,
             list_transform(generate_series(1, length(w)),
                            i -> substr(w, i, 1)) AS s
      FROM bpw
    )"""]
    for t in range(1, _BPE_MERGES + 1):
        parts.append(f""",
    bpp{t} AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(SUM(c) AS BIGINT) AS n
      FROM (SELECT c, s, unnest(generate_series(1, len(s) - 1)) AS i
            FROM bps{t - 1} WHERE len(s) >= 2) bpz{t}
      GROUP BY 1
    ),
    bpm{t} AS MATERIALIZED (
      SELECT pair, n,
             string_split(pair, ' ')[1] AS a,
             string_split(pair, ' ')[2] AS b
      FROM bpp{t} ORDER BY n DESC, pair ASC LIMIT 1
    ),
    bps{t} AS MATERIALIZED (
      SELECT p.w, p.c,
             string_split(list_reduce(p.s, (acc, x) ->
               CASE WHEN x = m.b
                         AND (acc = m.a OR ends_with(acc, ' ' || m.a))
                    THEN substr(acc, 1, length(acc) - length(m.a))
                         || m.a || m.b
                    ELSE acc || ' ' || x END), ' ') AS s
      FROM bps{t - 1} p CROSS JOIN bpm{t} m
    )""")
    return "".join(parts)


@register(
    "bpe_train_merges",
    oracle=f"""
    WITH {_bpe_train_ctes()}
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT CAST({t} AS INTEGER) AS round, pair, n AS n_occurrences FROM bpm{t}"
          for t in range(1, _BPE_MERGES + 1)
      )}
    ) bpout
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.bpe import (
        bpe_train,
        bpe_word_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    return bpe_train(bpe_word_table(docs), n_merges=_BPE_MERGES)


# ---------------------------------------------------------------------------
# IVF nprobe/recall operating curve — the first question an ANN user
# asks: what recall does each probe width buy, and at what scan cost?
# One query emits, for nprobe ∈ {1, 2, 4} against the same fixed-
# centroid IVF structure ann_ivf_topk serves: cells probed, candidate
# vectors actually scored (the real cost driver — the fraction of the
# corpus the probe touches), and recall@5 vs the exact brute-force
# top-5. Everything is computed ONCE at the widest probe and sliced
# by prk, so the curve costs one candidate join, not three; recall is
# an integer-count ratio with a single final division (engine-exact).
# ---------------------------------------------------------------------------

_IVF_CURVE_PROBES = (1, 2, 4)


def _ivf_curve_oracle() -> str:
    rows = []
    for np_ in _IVF_CURVE_PROBES:
        rows.append(f"""
    SELECT CAST({np_} AS INTEGER) AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ocprobes
            WHERE prk <= {np_}) AS n_cells_probed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM occand
            WHERE prk <= {np_}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS DOUBLE)
            FROM oct{np_} t JOIN ocex x
            ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id)
             / (SELECT GREATEST(n_exact, 1) FROM ocexn) AS recall_at_5""")
    tops = "".join(
        f""",
    oct{np_} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM occand WHERE prk <= {np_}
      ) WHERE rk <= 5
    )"""
        for np_ in _IVF_CURVE_PROBES
    )
    max_p = max(_IVF_CURVE_PROBES)
    return f"""
    WITH occ0 AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < 8
    ),
    ocasg AS (
      SELECT neighbor_id, cell FROM (
        SELECT e.vec_id AS neighbor_id, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS ark
        FROM embeddings e, occ0 c
      ) WHERE ark = 1
    ),
    ocprobes AS MATERIALIZED (
      SELECT query_id, qv, cell, prk FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid
               ) AS prk
        FROM embeddings q, occ0 c WHERE q.vec_id < 10
      ) WHERE prk <= {max_p}
    ),
    occand AS MATERIALIZED (
      SELECT p.query_id, e.vec_id AS neighbor_id, p.prk,
             {_cos_sql('p.qv', 'e.embedding')} AS cosine
      FROM ocprobes p
      JOIN ocasg a USING (cell)
      JOIN embeddings e ON e.vec_id = a.neighbor_id
      WHERE p.query_id != e.vec_id
    ),
    ocex AS MATERIALIZED ({_brute_topk_sql('ocx')}),
    ocexn AS (SELECT COUNT(*) AS n_exact FROM ocex){tops}
    {" UNION ALL ".join(rows)}
    """


@register("ivf_operating_curve", oracle=_ivf_curve_oracle())
def ivf_operating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from exceldatatransform_py_spark.operators.similarity import (
        _cosine_pre,
        _ivf_cells,
        _norm,
    )

    emb = (
        read_table(spark, sf_dir, "embeddings", fan_out=True)
        .select("vec_id", "embedding", _norm(F.col("embedding")).alias("__n"))
        .persist()
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = (
        cosine_topk(
            queries, emb, id_col="vec_id", vec_col="embedding",
            k=5, norm_col="__n",
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    cells = _ivf_cells(emb, centroids, "vec_id", "embedding", "__n")

    # probe ranking ONCE at the widest width, sliced by prk per point
    c = centroids.select(
        F.col("cent_id").alias("__cid"),
        F.col("cent_vec").alias("__cv0"),
        _norm(F.col("cent_vec")).alias("__cn0"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__qcos").desc(), F.col("__cid").asc()
    )
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
            F.col("__n").alias("__qn"),
        )
        .join(F.broadcast(c))
        .withColumn(
            "__qcos",
            _cosine_pre(F.col("__qv"), F.col("__cv0"),
                        F.col("__qn"), F.col("__cn0")),
        )
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= max(_IVF_CURVE_PROBES))
        .select("query_id", "__qv", "__qn", F.col("__cid").alias("cell"),
                "prk")
        .persist()
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("vec"),
                        F.col("__qn"), F.col("vnorm")),
        )
        .select("query_id", "neighbor_id", "prk", "cosine")
        .persist()
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    points = []
    for np_ in _IVF_CURVE_PROBES:
        sub = cand.filter(F.col("prk") <= np_)
        top = (
            sub.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 5)
            .select("query_id", "neighbor_id")
        )
        hits = top.join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count(F.lit(1)).alias("n_hits"))
        n_cand = sub.agg(F.count(F.lit(1)).alias("n_candidates"))
        n_cells = probes.filter(F.col("prk") <= np_).agg(
            F.count(F.lit(1)).alias("n_cells_probed")
        )
        points.append(
            hits.crossJoin(n_cand)
            .crossJoin(n_cells)
            .crossJoin(n_exact)
            .select(
                F.lit(np_).cast("int").alias("n_probe"),
                F.col("n_cells_probed").cast("bigint").alias(
                    "n_cells_probed"
                ),
                F.col("n_candidates").cast("bigint").alias("n_candidates"),
                (
                    F.col("n_hits").cast("double")
                    / F.greatest(F.col("n_exact"), F.lit(1))
                ).alias("recall_at_5"),
            )
        )
    out = points[0]
    for p in points[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle — the shard manifest. Training
# pipelines need the corpus in a reproducible pseudorandom order
# WITHOUT a global sort: h = md5(seed, id) keys both the shard
# (h % K) and the in-shard position ((h, id) order), so the full
# permutation is a pure function of (seed, ids) at any parallelism.
# The manifest pins it exactly: per shard, the doc count, exact token
# sum, and an ORDER-SENSITIVE chained md5 over the permutation — the
# same sorted-fold trick the suite uses wherever order must be
# engine-identical (NOTES.md). write_training_shards
# (sources/writers.py) emits the physical shards in this order.
# ---------------------------------------------------------------------------

_SHARD_K, _SHARD_SEED = 8, 17


@register(
    "training_shard_manifest",
    oracle=f"""
    WITH tsd AS (
      SELECT doc_id,
             {_H32.format(seed=_SHARD_SEED, x="CAST(doc_id AS VARCHAR)")}
               AS h,
             CAST(len({_QTOKS}) AS BIGINT) AS n_toks
      FROM documents
    )
    SELECT CAST(h % {_SHARD_K} AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           list_reduce(
             list_prepend('', list(CAST(doc_id AS VARCHAR)
                                   ORDER BY h, doc_id)),
             (acc, x) -> md5(acc || ':' || x)
           ) AS order_hash
    FROM tsd GROUP BY 1
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    h = md5_hash32(F.col("doc_id"), seed=_SHARD_SEED)
    staged = docs.select(
        "doc_id",
        h.alias("h"),
        F.size(ws_tokens(F.lower(F.col("text")))).cast("long").alias(
            "n_toks"
        ),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("h", "doc_id"))),
        lambda t: t["doc_id"].cast("string"),
    )
    chain = F.aggregate(
        ordered,
        F.lit(""),
        lambda acc, x: F.md5(F.concat(acc, F.lit(":"), x)),
    )
    return staged.groupBy(
        (F.col("h") % _SHARD_K).cast("int").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        chain.alias("order_hash"),
    )


# ---------------------------------------------------------------------------
# BPE ENCODE — the serving half of tokenizer training: apply the
# trained merge sequence to the corpus and account the compression per
# source. The scale shape mirrors real tokenizers: encoding is
# resolved per DISTINCT word (the model-sized table training already
# built — each word folds through the merge sequence once), and the
# corpus pass is a broadcast join of tokens against that encoded
# vocabulary — document text is scanned once, the quadratic-ish fold
# work is per vocab entry, never per occurrence. symbols_per_char is
# one double division of exact integer sums.
# ---------------------------------------------------------------------------


@register(
    "bpe_encode_corpus",
    oracle=f"""
    WITH {_bpe_train_ctes()},
    bpenc AS (
      SELECT w, CAST(len(s) AS BIGINT) AS n_sym,
             CAST(length(w) AS BIGINT) AS n_chr
      FROM bps{_BPE_MERGES}
    ),
    bptk AS (SELECT source, unnest({_QTOKS}) AS w FROM documents)
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(e.n_chr) AS BIGINT) AS total_chars,
           CAST(SUM(e.n_sym) AS BIGINT) AS total_symbols,
           CAST(SUM(e.n_sym) AS DOUBLE) / SUM(e.n_chr) AS symbols_per_char
    FROM bptk t JOIN bpenc e USING (w)
    GROUP BY t.source
    """,
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.bpe import (
        bpe_train_state,
        bpe_word_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    words = bpe_word_table(docs)
    # the trainer's final materialized symbolization IS the encoded
    # vocabulary — never re-fold the merge sequence as one expression
    # (2^N tree growth; see bpe_train_state)
    _, final_words = bpe_train_state(words, _BPE_MERGES)
    enc = final_words.select(
        "w",
        F.size("s").cast("long").alias("n_sym"),
        F.length("w").cast("long").alias("n_chr"),
    )
    toks = docs.select(
        "source",
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"),
    )
    return toks.join(F.broadcast(enc), "w").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("n_chr").cast("bigint").alias("total_chars"),
        F.sum("n_sym").cast("bigint").alias("total_symbols"),
        (
            F.sum("n_sym").cast("double") / F.sum("n_chr")
        ).alias("symbols_per_char"),
    )


# ---------------------------------------------------------------------------
# Classifier HOLDOUT evaluation — the number a curation gate is judged
# by: accuracy on documents the trainer never saw. The corpus splits
# by a seed-keyed hash gate (~80% train / 20% test — the same
# deterministic-split machinery the train/val/test splitter uses);
# gradients see only the train split, scoring covers everything, and
# the result reports per-split counts and accuracy. All counts exact
# integers; one final division per row.
# ---------------------------------------------------------------------------

_QC_HOLD_SEED, _QC_HOLD_MOD = 23, 5


@register(
    "classifier_holdout_eval",
    oracle=f"""
    WITH {_qc_train_ctes(
        _H32.format(seed=_QC_HOLD_SEED, x="CAST(id AS VARCHAR)")
        + f" % {_QC_HOLD_MOD} != 0"
    )},
    qcms AS (
      SELECT f.id, CAST(SUM(f.x * w.w) AS BIGINT) AS m
      FROM qcf f JOIN qcw{_QC_ITERS} w USING (j) GROUP BY f.id
    ),
    qcsp AS (
      SELECT l.id, l.y,
             CASE WHEN {_H32.format(
                 seed=_QC_HOLD_SEED, x="CAST(l.id AS VARCHAR)"
             )} % {_QC_HOLD_MOD} != 0
                  THEN 'train' ELSE 'test' END AS split,
             {_qc_prob_sql("m.m")} * 2 >= {_QC_SCALE} AS predicted
      FROM qcms m JOIN qcl l USING (id)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN predicted = (y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN predicted = (y = 1) THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS accuracy
    FROM qcsp GROUP BY split
    """,
)
def classifier_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    gate = md5_hash32(F.col("id"), seed=_QC_HOLD_SEED) % _QC_HOLD_MOD != 0
    scored = _qc_scored(spark, sf_dir, train_filter=gate)
    split = F.when(gate, F.lit("train")).otherwise(F.lit("test"))
    correct = (
        F.col("predicted") == (F.col("label") == 1)
    ).cast("bigint")
    return (
        scored.select("id", "label", "predicted")
        .withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            (F.sum(correct).cast("double") / F.count(F.lit(1))).alias(
                "accuracy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Curation pipeline v3 — the LEARNED gate composed into the full
# ingest pipeline: train the quality classifier, gate on its
# prediction, exact-dedup the survivors, apply the per-source quota
# ranked BY CLASSIFIER MARGIN (the learned score replaces the
# heuristic ordering v1 used), and account per language. One lazy
# plan after training; margins are exact BIGINTs so min/max summarize
# hash-exactly.
# ---------------------------------------------------------------------------


@register(
    "curation_pipeline_v3",
    oracle=rf"""
    WITH {_qc_train_ctes()},
    qcms AS (
      SELECT f.id, CAST(SUM(f.x * w.w) AS BIGINT) AS m
      FROM qcf f JOIN qcw{_QC_ITERS} w USING (j) GROUP BY f.id
    ),
    v3g AS (
      SELECT d.doc_id, d.source, d.lang, d.text, qm.m AS margin,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens
      FROM documents d JOIN qcms qm ON d.doc_id = qm.id
      WHERE {_qc_prob_sql("qm.m")} * 2 >= {_QC_SCALE}
    ),
    v3d AS (
      SELECT MIN(doc_id) AS keep_id
      FROM v3g
      GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
    ),
    v3k AS (SELECT g.* FROM v3g g JOIN v3d ON g.doc_id = v3d.keep_id),
    v3q AS (
      SELECT * FROM (
        SELECT v3k.*,
               row_number() OVER (PARTITION BY source
                                  ORDER BY margin DESC, doc_id) AS rk
        FROM v3k
      ) WHERE rk <= {_QUOTA_PER_SOURCE}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(margin) AS min_margin,
           MAX(margin) AS max_margin
    FROM v3q GROUP BY lang
    """,
)
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # row-local gate (r9): scoring carries source/lang/text through,
    # so the gated corpus is scan → map → filter — no doc×doc join.
    scored = _qc_scored(spark, sf_dir, extra=("source", "lang", "text"))
    gated = (
        scored.filter(F.col("predicted"))
        .select(
            F.col("id").alias("doc_id"), "source", "lang", "text",
            F.col("margin_fixed").alias("margin"),
            F.size("__toks").cast("long").alias("n_tokens"),
        )
    )
    # exact dedup as ONE window pass (keep the min doc_id per
    # normalized-text hash): the r8 groupBy+semi-join formulation read
    # the gated subtree twice, and with the r9 row-local gate each read
    # re-runs the per-token scoring map — a rank-1 window reads it once.
    dw = Window.partitionBy(
        F.md5(normalize_text("text"))
    ).orderBy("doc_id")
    kept = (
        gated.withColumn("__dk", F.row_number().over(dw))
        .filter(F.col("__dk") == 1)
        .drop("__dk")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("margin").desc(), F.col("doc_id")
    )
    quota = kept.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _QUOTA_PER_SOURCE
    )
    return quota.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("margin").alias("min_margin"),
        F.max("margin").alias("max_margin"),
    )


# ---------------------------------------------------------------------------
# Curation pipeline v4 — the CROSS-MODAL stage composed into the
# end-to-end pipeline (the north-star shape: dedup across ALL
# modalities before quota-ranking): connected components over the
# union of all four modality edge sets picks one canonical doc per
# cluster, the learned classifier gates the canonicals, and the
# per-source quota ranks by margin. v3's exact text dedup is replaced
# by the cross-modal canonical set — a near-dup in ANY modality now
# collapses to one representative. Scale shape: the four edge
# generators are banded (never all-pairs), CC is the pointer-doubling
# loop, and the NON-canonical id set (only docs inside multi-doc
# clusters — the duplicates, tiny by construction) broadcasts into an
# anti-join against the gated scan, so the corpus-sized side never
# shuffles for the dedup step. The oracle nests the full cross-modal
# closure AND the classifier training CTEs under one WITH RECURSIVE.
# ---------------------------------------------------------------------------


@register(
    "curation_pipeline_v4",
    oracle=rf"""
    WITH RECURSIVE {_qc_train_ctes()},
    qcms AS (
      SELECT f.id, CAST(SUM(f.x * w.w) AS BIGINT) AS m
      FROM qcf f JOIN qcw{_QC_ITERS} w USING (j) GROUP BY f.id
    ),
    xtp AS ({_simhash_pairs_oracle()}),
    xip AS ({_phash_oracle()}),
    xap AS ({_AUDIO_PAIRS_ORACLE}),
    xvp AS ({_VIDEO_PAIRS_ORACLE}),
    xedges AS (
      SELECT a_id, b_id FROM xtp
      UNION SELECT a_id, b_id FROM xip
      UNION SELECT a_id, b_id FROM xap
      UNION SELECT a_id, b_id FROM xvp
    ),
    xsym(s, d) AS (
      SELECT a_id, b_id FROM xedges
      UNION ALL
      SELECT b_id, a_id FROM xedges
    ),
    xreach(v, r) AS (
      SELECT s, d FROM xsym
      UNION
      SELECT xreach.v, xsym.d FROM xreach JOIN xsym ON xreach.r = xsym.s
    ),
    xnc AS (
      SELECT v AS doc_id FROM (
        SELECT v, least(v, min(r)) AS cluster_id FROM xreach GROUP BY v
      ) WHERE v != cluster_id
    ),
    v4g AS (
      SELECT d.doc_id, d.source, d.lang, qm.m AS margin,
             CAST(len({_QTOKS}) AS BIGINT) AS n_tokens
      FROM documents d JOIN qcms qm ON d.doc_id = qm.id
      WHERE {_qc_prob_sql("qm.m")} * 2 >= {_QC_SCALE}
        AND d.doc_id NOT IN (SELECT doc_id FROM xnc)
    ),
    v4q AS (
      SELECT * FROM (
        SELECT v4g.*,
               row_number() OVER (PARTITION BY source
                                  ORDER BY margin DESC, doc_id) AS rk
        FROM v4g
      ) WHERE rk <= {_QUOTA_PER_SOURCE}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(margin) AS min_margin,
           MAX(margin) AS max_margin
    FROM v4q GROUP BY lang
    """,
)
def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from exceldatatransform_py_spark.operators.dedup import (
        connected_components,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    edges = _cross_modal_edges(spark, sf_dir)
    cc = connected_components(
        edges, src="a_id", dst="b_id", nodes=docs, node_col="doc_id"
    )
    # only docs INSIDE a multi-doc cluster are non-canonical — the
    # small side by construction, so the dedup step is a broadcast
    # anti-join and the scored corpus scan never shuffles for it
    non_canon = cc.filter(F.col("v") != F.col("cluster_id")).select(
        F.col("v").alias("doc_id")
    )
    scored = _qc_scored(spark, sf_dir, extra=("source", "lang", "text"))
    gated = scored.filter(F.col("predicted")).select(
        F.col("id").alias("doc_id"), "source", "lang",
        F.col("margin_fixed").alias("margin"),
        F.size("__toks").cast("long").alias("n_tokens"),
    )
    kept = gated.join(F.broadcast(non_canon), "doc_id", "left_anti")
    w = Window.partitionBy("source").orderBy(
        F.col("margin").desc(), F.col("doc_id")
    )
    quota = kept.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _QUOTA_PER_SOURCE
    )
    return quota.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("margin").alias("min_margin"),
        F.max("margin").alias("max_margin"),
    )


# ---------------------------------------------------------------------------
# LSH probe-hamming operating curve — the multi-probe knob's
# price/recall table, completing the operating-curve pair with
# ivf_operating_curve: for probe_hamming ∈ {0, 1, 2} against the same
# hyperplane structure ann_lsh_topk uses, emit buckets probed,
# candidates scored, and recall@5 vs exact. Candidates are computed
# ONCE at the widest radius and sliced by per-bucket hamming distance
# (bit_count(xor) — both engines), so the curve costs one candidate
# join. hamming-2 probes 11 of 16 buckets: the curve SHOWS multi-probe
# LSH's steep cost curve rather than asserting it.
# ---------------------------------------------------------------------------

_LSH_CURVE_H = (0, 1, 2)


def _lsh_bucket_sql(vcol: str = "embedding") -> str:
    """The hyperplane bucket id as DuckDB SQL — the same floor-scaled
    sign-bit construction _ann_oracle inlines (operators.similarity
    .lsh_bucket's twin)."""
    proj = (
        "CAST(list_sum(list_transform(range(1, len({v}) + 1), "
        "i -> CAST(floor(CAST({v}[i] AS DOUBLE) * ([{plane}])[i] "
        "* 1000000000000.0) AS BIGINT)"
        ")) AS DOUBLE)"
    )
    return " + ".join(
        "CAST({p} > 0 AS BIGINT) * {w}".format(
            p=proj.format(v=vcol, plane=", ".join(str(x) for x in pl)),
            w=2**i,
        )
        for i, pl in enumerate(_ANN_PLANES)
    )


def _lsh_curve_oracle() -> str:
    n_buckets = 2 ** len(_ANN_PLANES)
    max_h = max(_LSH_CURVE_H)
    tops = "".join(
        f""",
    lct{h} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM lcand WHERE hd <= {h}
      ) WHERE rk <= 5
    )"""
        for h in _LSH_CURVE_H
    )
    rows = [f"""
    SELECT CAST({h} AS INTEGER) AS probe_hamming,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lcp
            WHERE hd <= {h}) AS n_buckets_probed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lcand
            WHERE hd <= {h}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS DOUBLE)
            FROM lct{h} t JOIN lcex x
            ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id)
             / (SELECT GREATEST(n_exact, 1) FROM lcexn) AS recall_at_5"""
            for h in _LSH_CURVE_H]
    return f"""
    WITH lcb AS MATERIALIZED (
      SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket
      FROM embeddings
    ),
    lcq AS (
      SELECT vec_id AS query_id, embedding AS qv, bucket AS qb
      FROM lcb WHERE vec_id < 10
    ),
    lcp AS MATERIALIZED (
      SELECT q.query_id, q.qv, g.b AS bucket,
             bit_count(CAST(xor(q.qb, g.b) AS BIGINT)) AS hd
      FROM lcq q, (SELECT unnest(range(0, {n_buckets})) AS b) g
      WHERE bit_count(CAST(xor(q.qb, g.b) AS BIGINT)) <= {max_h}
    ),
    lcand AS MATERIALIZED (
      SELECT p.query_id, e.vec_id AS neighbor_id, p.hd,
             {_COSINE.replace("cv", "e.embedding").replace("qv", "p.qv")}
               AS cosine
      FROM lcp p JOIN lcb e ON e.bucket = p.bucket
      WHERE e.vec_id != p.query_id
    ),
    lcex AS MATERIALIZED ({_brute_topk_sql('lcx')}),
    lcexn AS (SELECT COUNT(*) AS n_exact FROM lcex){tops}
    {" UNION ALL ".join(rows)}
    """


@register("lsh_operating_curve", oracle=_lsh_curve_oracle())
def lsh_operating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from exceldatatransform_py_spark.operators.similarity import (
        _cosine_pre,
        _norm,
        lsh_bucket,
    )

    emb = (
        read_table(spark, sf_dir, "embeddings", fan_out=True)
        .select("vec_id", "embedding", _norm(F.col("embedding")).alias("__n"))
        .persist()
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = (
        cosine_topk(
            queries, emb, id_col="vec_id", vec_col="embedding",
            k=5, norm_col="__n",
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    cb = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vec"),
        F.col("__n").alias("vnorm"),
        lsh_bucket(F.col("embedding"), _ANN_PLANES).alias("bucket"),
    )
    max_h = max(_LSH_CURVE_H)
    n_buckets = 2 ** len(_ANN_PLANES)
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
            F.col("__n").alias("__qn"),
            lsh_bucket(F.col("embedding"), _ANN_PLANES).alias("__qb"),
        )
        .select(
            "query_id", "__qv", "__qn", "__qb",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(n_buckets - 1).cast("long"),
                )
            ).alias("bucket"),
        )
        .withColumn(
            "hd", F.bit_count(F.col("bucket").bitwiseXOR(F.col("__qb")))
        )
        .filter(F.col("hd") <= max_h)
        .drop("__qb")
        .persist()
    )
    cand = (
        cb.join(F.broadcast(probes), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("vec"),
                        F.col("__qn"), F.col("vnorm")),
        )
        .select("query_id", "neighbor_id", "hd", "cosine")
        .persist()
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    points = []
    for h in _LSH_CURVE_H:
        sub = cand.filter(F.col("hd") <= h)
        top = (
            sub.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 5)
            .select("query_id", "neighbor_id")
        )
        hits = top.join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count(F.lit(1)).alias("n_hits"))
        n_cand = sub.agg(F.count(F.lit(1)).alias("n_candidates"))
        n_probed = probes.filter(F.col("hd") <= h).agg(
            F.count(F.lit(1)).alias("n_buckets_probed")
        )
        points.append(
            hits.crossJoin(n_cand)
            .crossJoin(n_probed)
            .crossJoin(n_exact)
            .select(
                F.lit(h).cast("int").alias("probe_hamming"),
                F.col("n_buckets_probed").cast("bigint").alias(
                    "n_buckets_probed"
                ),
                F.col("n_candidates").cast("bigint").alias("n_candidates"),
                (
                    F.col("n_hits").cast("double")
                    / F.greatest(F.col("n_exact"), F.lit(1))
                ).alias("recall_at_5"),
            )
        )
    out = points[0]
    for p in points[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Auto operating-point selection, scored — the consumer of the two
# operating curves: pick the CHEAPEST probe width whose recall meets
# the target (fall back to the widest when none does), pinning the
# chosen width AND its achieved recall/cost under the oracle. This is
# the selection ivf_topk_from_index / lsh_topk_from_index run when
# called with width="auto" (operators/similarity.choose_probe_width);
# scoring it makes the nprobe-selection a 100 TB deployment tunes by
# itself a verified artifact, not a heuristic.
# ---------------------------------------------------------------------------

_AUTO_TARGET = 0.8


def _auto_pick_sql(curve_sql: str, width: str, extra_cols: str) -> str:
    meets = f"recall_at_5 >= {_AUTO_TARGET}"
    return f"""
    SELECT CAST({_AUTO_TARGET} AS DOUBLE) AS target_recall,
           {width}, {extra_cols}, n_candidates, recall_at_5,
           {meets} AS meets_target
    FROM ({curve_sql}) curve_
    ORDER BY ({meets}) DESC,
             CASE WHEN {meets} THEN n_candidates ELSE -n_candidates END,
             {width}
    LIMIT 1
    """


@register(
    "ivf_auto_probe_width",
    oracle=_auto_pick_sql(_ivf_curve_oracle(), "n_probe", "n_cells_probed"),
)
def ivf_auto_probe_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.similarity import (
        choose_probe_width,
    )

    curve = ivf_operating_curve(spark, sf_dir)
    return choose_probe_width(curve, _AUTO_TARGET, "n_probe").select(
        "target_recall", "n_probe", "n_cells_probed", "n_candidates",
        "recall_at_5", "meets_target",
    )


@register(
    "lsh_auto_probe_width",
    oracle=_auto_pick_sql(
        _lsh_curve_oracle(), "probe_hamming", "n_buckets_probed"
    ),
)
def lsh_auto_probe_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.similarity import (
        choose_probe_width,
    )

    curve = lsh_operating_curve(spark, sf_dir)
    return choose_probe_width(curve, _AUTO_TARGET, "probe_hamming").select(
        "target_recall", "probe_hamming", "n_buckets_probed", "n_candidates",
        "recall_at_5", "meets_target",
    )
