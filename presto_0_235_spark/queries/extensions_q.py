"""Beyond-reference queries: dedup, similarity search, text analysis,
multimodal plumbing (SURVEY.md §7 Phase 6).

These are the training-data-pipeline operators a 100 TB corpus needs;
the reference engine has no analog (its closest surface is DISTINCT +
scalar string functions). Each entry is Spark-first — pure Column
expressions and one bounded shuffle where the algorithm requires it —
with a DuckDB oracle generated from the *same* constants/SQL-fragment
twins in operators/{dedup,similarity,text}.py, so the differential
gate verifies values, not vibes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table, spread_scan
from presto_0_235_spark.operators import dedup as dd
from presto_0_235_spark.operators import multimodal as mm
from presto_0_235_spark.operators import similarity as sim
from presto_0_235_spark.operators import text as tx
from presto_0_235_spark.queries.registry import register

# ---------------------------------------------------------------------------
# deduplication

_NORM = dd.sql_normalized_text("text")


@register(
    "dedup_exact",
    oracle=f"""
SELECT md5({_NORM}) AS content_key,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5({_NORM})
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize -> 128-bit content key -> one hash
    groupBy keeping the smallest doc_id. At 100 TB this is a single
    uniform-key shuffle (no skew: md5 keys are uniform), with map-side
    partial aggregation halving shuffle volume."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(dd.normalized_text("text")).alias("content_key"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


_SHINGLES = dd.sql_word_shingles("text")
# Bigram shingles for the Jaccard verifier: the synthetic corpus has
# no true near-dups (max trigram jaccard ~0.04), so bigrams + a 0.05
# floor give the pairs output real content to verify.
_SHINGLES2 = dd.sql_word_shingles("text", 2)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, {_SHINGLES2} AS sh
  FROM documents WHERE doc_id < 200
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.lang AS lang,
       {dd.sql_jaccard('a.sh', 'b.sh')} AS jac
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {dd.sql_jaccard('a.sh', 'b.sh')} >= 0.05
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup on a blocked self-join (block = lang).
    This is the small-block verifier; the scale path is
    dedup_minhash_lsh (candidates first, verify after). The lang join
    key is low-cardinality/skewed — at scale, salt it or go LSH."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang", dd.word_shingles("text", 2).alias("sh"))
    )
    a, b = d.alias("a"), d.alias("b")
    jac = dd.jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.lang").alias("lang"),
            jac.alias("jac"),
        )
        .filter(F.col("jac") >= 0.05)
    )


_SIG = dd.sql_minhash_signature("sh")
_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, {dd.sql_lsh_band_key('sig', b)} AS band_key FROM sig"
    for b in range(dd.LSH_BANDS)
)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
sig AS (
  SELECT doc_id, {_SIG} AS sig FROM d
),
bands AS (
  {_BAND_SELECTS}
),
small_buckets AS (
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key
  HAVING count(*) <= {dd.LSH_MAX_BUCKET}
),
kept AS (
  SELECT b.* FROM bands b
  JOIN small_buckets s ON b.band_id = s.band_id AND b.band_key = s.band_key
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM kept a
  JOIN kept b ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2, {dd.sql_jaccard('d1.sh', 'd2.sh')} AS jac
FROM cand c
JOIN d d1 ON d1.doc_id = c.doc1
JOIN d d2 ON d2.doc_id = c.doc2
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup — the scale path. shingle -> one md5 ->
    K=12 permutation minhashes -> 6 bands of 2 -> bucket self-join
    (buckets capped at LSH_MAX_BUCKET rows — degenerate boilerplate
    buckets would be quadratic; the oracle replays the cap) -> exact-Jaccard
    verification of candidates only. The only shuffles are the band
    join (uniform composite key, O(n*B) rows) and the two candidate
    lookups; never O(n^2). At 1000 executors this is the textbook
    LSH dedup layout."""
    # Shingle table persisted: read by the signature pass and twice by
    # the verification joins — without the cache the shingling (split
    # + slide + distinct per doc) runs three times.
    d = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", dd.word_shingles("text").alias("sh"))
        .persist()
    )
    pairs = dd.lsh_candidate_pairs(d, "doc_id", "sh")
    d1 = d.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    d2 = d.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    return (
        pairs.join(d1, "id1")
        .join(d2, "id2")
        .select(
            F.col("id1").alias("doc1"),
            F.col("id2").alias("doc2"),
            dd.jaccard(F.col("sh1"), F.col("sh2")).alias("jac"),
        )
    )


_HS = f"list_transform({tx.sql_ws_tokens('text')}, t -> {dd.sql_token_hash32('t')})"
_CHUNK_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, fp, {c} AS chunk_id, {dd.sql_simhash_chunk('fp', c)} AS chunk_val FROM f"
    for c in range(dd.SIMHASH_CHUNKS)
)


@register(
    "dedup_simhash",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_HS} AS hs FROM documents
),
f AS (
  SELECT doc_id, {dd.sql_simhash('hs')} AS fp FROM t
),
chunks AS (
  {_CHUNK_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, a.fp AS fp1, b.doc_id AS doc2, b.fp AS fp2
  FROM chunks a
  JOIN chunks b ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
               AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, CAST(bit_count(xor(fp1, fp2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp1, fp2)) <= 2
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: per-bit token voting -> fingerprint ->
    chunk-bucket join (pigeonhole: hamming<=2 over 4 chunks implies
    >=1 identical chunk) -> hamming filter. Integer-only arithmetic,
    engine-exact. 32-bit here for test speed; production uses 64-bit
    (one constant in operators/dedup.py)."""
    docs = (
        load_table(spark, sf_dir, "documents", spread=True)
        .withColumn(
            "hs", F.transform(tx.ws_tokens("text"), dd._token_hash32)
        )
        .withColumn("fp", dd.simhash(F.col("hs")))
        .select("doc_id", "fp")
    )
    chunked = docs.select(
        "doc_id",
        "fp",
        F.posexplode(dd.simhash_chunks(F.col("fp"))).alias(
            "chunk_id", "chunk_val"
        ),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("a.fp").alias("fp1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("b.fp").alias("fp2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", dd.hamming64(F.col("fp1"), F.col("fp2")).cast("bigint")
        )
        .filter(F.col("hamming") <= 2)
        .select("doc1", "doc2", "hamming")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200
)
SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS label,
       round({sim.sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({sim.sql_cosine('a.embedding', 'b.embedding')}, 6) >= 0.3
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup on a label-blocked self-join —
    the semantic-dedup verifier (block here = cluster label; at scale
    the block is an LSH/IVF bucket, see ann_lsh_bucketed)."""
    # Norm precompute below the self-join (see ann_cosine_topk): each
    # side pays one |v|^2 fold per ROW instead of per PAIR.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id",
            "label",
            "embedding",
            F.expr(sim.spark_sq_norm_sql("embedding")).alias("nsq"),
        )
    )
    a, b = e.alias("a"), e.alias("b")
    cos = F.round(
        F.expr(
            sim.spark_cosine_pre_sql(
                "a.embedding", "b.embedding", "a.nsq", "b.nsq"
            )
        ),
        6,
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            F.col("a.label").alias("label"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


# ---------------------------------------------------------------------------
# similarity search (ANN)

_TOPK = 10


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({sim.sql_cosine('q.qv', 'c.cv')}, 6) AS score
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, score, rnk FROM ranked WHERE rnk <= {_TOPK}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the exact ANN baseline. The query
    set is broadcast (tiny), scoring is a narrow pure-expression map
    over all candidates, and the per-query top-k is a window that
    Spark executes with partial top-k per partition (InferWindowGroupLimit),
    so nothing N-sized ever shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Squared norms are projected once per row BELOW the join
    # (sq_norm/cosine_pre): the per-pair score is then a single
    # O(dim) fold instead of three — ~3x less scoring compute at
    # identical (bit-exact) results. The candidate-side norm lands
    # in the scan projection; the query-side norm rides the
    # broadcast (Q rows).
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(sim.spark_sq_norm_sql("embedding")).alias("qn"),
    )
    c = spread_scan(emb.filter(F.col("vec_id") >= 5)).select(
        "vec_id",
        F.col("embedding").alias("cv"),
        F.expr(sim.spark_sq_norm_sql("embedding")).alias("cn"),
    )
    from pyspark.sql import Window

    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.expr(
                    sim.spark_cosine_pre_sql("qv", "cv", "qn", "cn")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "vec_id", "score", "rnk")
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {sim.sql_lsh_bucket('embedding')} AS bucket
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id, embedding AS cv,
         {sim.sql_lsh_bucket('embedding')} AS bucket
  FROM embeddings WHERE vec_id >= 5
),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({sim.sql_cosine('q.qv', 'c.cv')}, 6) AS score
  FROM q JOIN c ON q.bucket = c.bucket
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, score, rnk FROM ranked WHERE rnk <= 3
""",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — the scale path. Sign-of-random-projection
    buckets (Charikar hyperplane LSH, P=4 -> 16 buckets) assigned in a
    narrow projection; the join only scores same-bucket candidates,
    cutting compute ~2^P-fold at a recall cost tuned by P. At 100B
    vectors: partition candidates by bucket once, broadcast queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Same norm-precompute as ann_cosine_topk: one fold per pair.
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(sim.spark_sq_norm_sql("embedding")).alias("qn"),
        sim.lsh_bucket(F.col("embedding")).alias("bucket"),
    )
    c = emb.filter(F.col("vec_id") >= 5).select(
        "vec_id",
        F.col("embedding").alias("cv"),
        F.expr(sim.spark_sq_norm_sql("embedding")).alias("cn"),
        sim.lsh_bucket(F.col("embedding")).alias("bucket"),
    )
    from pyspark.sql import Window

    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "vec_id",
        F.round(
            F.expr(sim.spark_cosine_pre_sql("qv", "cv", "qn", "cn")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "vec_id", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# text analysis

_TOKENS = tx.sql_ws_tokens("text")


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKENS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all({tx.sql_normalized_text('text')},
                                   '{tx.BPE_PATTERN}')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(length({tx.sql_normalized_text('text')}) AS BIGINT) AS n_chars
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex
    pre-tokenization (letter runs | digit runs | single symbol) —
    the unit a token-budgeted pipeline meters by. Narrow projection;
    pipelines inside the scan at any scale."""
    norm = dd.normalized_text("text")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tx.ws_tokens("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(tx.BPE_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.length(norm).cast("bigint").alias("n_chars"),
    )


@register(
    "text_lang_id",
    oracle=f"""
SELECT doc_id, lang AS declared_lang,
       {tx.sql_lang_id(_TOKENS)} AS guessed_lang,
       CAST({tx.sql_stopword_score(_TOKENS, 'en')} AS BIGINT) AS en_score
FROM documents
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-membership language ID (n-gram heuristic family):
    score tokens against per-language stopword seeds, argmax with a
    deterministic tie-break. (The synthetic corpus is English-ish for
    every lang label, so guesses won't match `declared_lang` — the
    operator and its oracle recompute the same heuristic.)"""
    toks = tx.ws_tokens("text")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        tx.lang_id(toks).alias("guessed_lang"),
        tx.stopword_score(toks, "en").cast("bigint").alias("en_score"),
    )


@register(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks,
         length({tx.sql_normalized_text('text')}) AS n_chars
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       len(list_distinct(toks)) / len(toks) AS uniq_ratio,
       CAST({tx.sql_stopword_score('toks', 'en')} AS BIGINT)
         / len(toks) AS stop_ratio,
       (n_chars - (len(toks) - 1)) / len(toks) AS avg_token_len,
       0.4 * (len(list_distinct(toks)) / len(toks))
         + 0.3 * least(1.0, len(toks) / 64.0)
         + 0.3 * least(1.0, ({tx.sql_stopword_score('toks', 'en')}
                             / len(toks)) * 4.0) AS quality
FROM t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / stopword-density / uniqueness
    ratios — the standard cheap pre-filter before expensive model
    scoring. Pure per-row arithmetic on integer counts: bit-identical
    across engines with no rounding."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tx.ws_tokens("text").alias("toks"),
        F.length(dd.normalized_text("text")).alias("n_chars"),
    )
    n = F.size("toks")
    uniq = F.size(F.array_distinct("toks")) / n
    stop = tx.stopword_score(F.col("toks"), "en")
    stop_ratio = stop.cast("bigint") / n
    quality = (
        0.4 * uniq
        + 0.3 * F.least(F.lit(1.0), n / F.lit(64.0))
        + 0.3 * F.least(F.lit(1.0), stop_ratio * 4.0)
    )
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        uniq.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        ((F.col("n_chars") - (n - 1)) / n).alias("avg_token_len"),
        quality.alias("quality"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       {tx.sql_rolling_fingerprint(tx.sql_normalized_text('text'))} AS fp,
       CAST(len({_SHINGLES}) AS BIGINT) AS n_shingles
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash (base 31 mod
    2^31-1) over the normalized prefix + distinct-shingle count.
    Integer fold -> engine-exact; prefix cap bounds per-row cost."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tx.rolling_fingerprint(dd.normalized_text("text")).alias("fp"),
        F.size(dd.word_shingles("text")).cast("bigint").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing


@register(
    "mm_resize_plan",
    oracle="""
WITH m AS (
  SELECT doc_id,
         CAST((doc_id % 16 + 1) * 64 AS INT) AS width,
         CAST((doc_id % 9 + 1) * 64 AS INT) AS height,
         octet_length(CAST(text AS BLOB)) AS payload_bytes
  FROM documents
)
SELECT doc_id, width, height,
       round(least(1.0, 256 / greatest(width, height)::DOUBLE), 6) AS scale,
       CAST(ceil(width * least(1.0, 256 / greatest(width, height)::DOUBLE))
            AS INT) AS target_w,
       CAST(ceil(height * least(1.0, 256 / greatest(width, height)::DOUBLE))
            AS INT) AS target_h,
       payload_bytes
FROM m
""",
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media metadata transforms (resize planning) as pure
    expressions over the typed meta struct — filters/plans on
    metadata never touch payload bytes, so at 100 TB the scan prunes
    the binary column entirely (ReadSchema shows meta-only)."""
    media = mm.as_media_table(load_table(spark, sf_dir, "documents"))
    return mm.resize_plan(media)


@register(
    "mm_decode_stub",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'png'
            WHEN doc_id % 3 = 1 THEN 'jpeg'
            ELSE 'webp' END AS fmt,
       CAST((doc_id % 16 + 1) * 64 AS INT) AS width,
       CAST((doc_id % 9 + 1) * 64 AS INT) AS height,
       CAST((doc_id % 16 + 1) * 64 AS BIGINT)
         * CAST((doc_id % 9 + 1) * 64 AS BIGINT) AS n_pixels,
       CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT)
         / 4294967296.0 AS mean_luma,
       CAST(len(range(0, CAST(n_chars % 30 + 1 AS INT), 7)) AS INT)
         AS n_sampled,
       array_to_string(range(0, CAST(n_chars % 30 + 1 AS INT), 7), ',')
         AS frames_csv
FROM documents WHERE doc_id < 100
""",
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract/frame-sample via Arrow-batched
    mapInPandas. The codec call is a deterministic STUB (no image
    libs in this container — operators/multimodal.py:_stub_decode:
    sha256-derived 'luma'), which makes the whole mapInPandas stage
    replayable in SQL — the oracle recomputes payload digests and
    frame-sample indices in DuckDB. The frame list is projected to
    (count, csv) so the output is scalar-typed end to end."""
    media = mm.as_media_table(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    decoded = mm.decode_media(media)
    return decoded.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "n_pixels",
        "mean_luma",
        F.size("sampled_frames").cast("int").alias("n_sampled"),
        F.array_join(
            F.col("sampled_frames").cast("array<string>"), ","
        ).alias("frames_csv"),
    )


@register(
    "events_decode_json_topic",
    oracle="""
SELECT event_type,
       CAST(count(*) FILTER (json_extract_string(props, '$.k') IS NOT NULL)
            AS BIGINT) AS with_k,
       CAST(max(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS max_k,
       min(ts) AS first_ts
FROM events
GROUP BY event_type
""",
)
def events_decode_json_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-as-table with a JSON message decoder — the reference's
    Kafka model (presto-kafka KafkaRecordSet.java:52 scans topics
    batch-style; presto-record-decoder/.../json decodes payloads into
    typed columns). Here: events.props is the raw message; the
    decoder is from_json-style extraction inside the scan, grouped by
    type with the _timestamp pseudo-column analog (ts)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return events.groupBy("event_type").agg(
        F.count(F.when(k.isNotNull(), 1)).cast("bigint").alias("with_k"),
        F.max(F.try_to_number(k, F.lit("999999"))).cast("int").alias("max_k"),
        F.min("ts").alias("first_ts"),
    )


@register(
    "join_asof_backward",
    oracle="""
SELECT p.event_id, p.user_id, p.ts, p.value, v.value AS prior_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
""",
)
def join_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference: the reference runs such queries
    as nested-loop theta joins — SURVEY.md §2.3): every purchase is
    enriched with the value of the user's latest view at-or-before
    it. One shuffle + window pass (operators/asof.py); the oracle is
    DuckDB's native ASOF LEFT JOIN — two independent formulations,
    same rows."""
    from presto_0_235_spark.operators.asof import asof_join_backward

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return asof_join_backward(
        purchases,
        views,
        on="user_id",
        ts="ts",
        left_cols=["event_id", "value"],
        right_value="value",
        out_col="prior_view_value",
    ).select("event_id", "user_id", "ts", "value", "prior_view_value")


_IVF_TOPK = 5


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 97 = 7
),
cand AS (
  SELECT vec_id, embedding AS ev FROM embeddings WHERE vec_id >= 5
),
cand_assign AS (
  SELECT vec_id, ev, cid FROM (
    SELECT c.vec_id, c.ev, cent.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round({sim.sql_cosine('c.ev', 'cent.cv')}, 6) DESC, cent.cid
           ) AS rn
    FROM cand c CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
q_probe AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, cent.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round({sim.sql_cosine('q.qv', 'cent.cv')}, 6) DESC, cent.cid
           ) AS rn
    FROM q CROSS JOIN cent
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({sim.sql_cosine('p.qv', 'a.ev')}, 6) AS score
  FROM q_probe p JOIN cand_assign a ON p.cid = a.cid
)
SELECT query_id, vec_id, score, rnk FROM (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {_IVF_TOPK}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN — the inverted-file scale path beside LSH
    (ann_lsh_bucketed). Centroids here are a deterministic sample
    (vec_id % 97 == 7) so the oracle can replay the exact pipeline;
    at production scale they come from k-means (pyspark.ml) and the
    plan shape is unchanged: assign candidates to nearest centroid
    once (narrow cross join with the tiny broadcast centroid set),
    probe the nProbe=2 nearest lists per query, score only those
    lists. Compute cut ~ |lists|/nProbe at recall controlled by
    nProbe."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % 97 == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cand = spread_scan(emb.filter(F.col("vec_id") >= 5)).select(
        "vec_id", F.col("embedding").alias("ev")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )

    w_cand = Window.partitionBy("vec_id").orderBy(
        F.col("c_score").desc(), F.col("cid")
    )
    cand_assign = (
        cand.crossJoin(F.broadcast(cent))
        .withColumn(
            "c_score", F.round(sim.cosine(F.col("ev"), F.col("cv")), 6)
        )
        .withColumn("rn", F.row_number().over(w_cand))
        .filter(F.col("rn") == 1)
        .select("vec_id", "ev", "cid")
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("c_score").desc(), F.col("cid")
    )
    q_probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "c_score", F.round(sim.cosine(F.col("qv"), F.col("cv")), 6)
        )
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= 2)
        .select("query_id", "qv", "cid")
    )
    scored = q_probe.join(cand_assign, "cid").select(
        "query_id",
        "vec_id",
        F.round(sim.cosine(F.col("qv"), F.col("ev")), 6).alias("score"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _IVF_TOPK)
        .select("query_id", "vec_id", "score", "rnk")
    )


_P_TOKS = tx.sql_ws_tokens("text")
_P_SH2 = dd.sql_word_shingles("text", 2)
_P_SIG2 = dd.sql_minhash_signature("sh")
_P_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, {dd.sql_lsh_band_key('sig', b)} AS band_key FROM sig"
    for b in range(dd.LSH_BANDS)
)


@register(
    "pipeline_corpus_dedup",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang, {_P_TOKS} AS toks, {_P_SH2} AS sh,
         md5({dd.sql_normalized_text('text')}) AS ckey
  FROM documents
  WHERE len({_P_TOKS}) >= 20
    AND len(list_distinct({_P_TOKS})) / len({_P_TOKS}) >= 0.4
),
exact AS (
  SELECT min(doc_id) AS doc_id FROM q GROUP BY ckey
),
kept AS (
  SELECT q.* FROM q JOIN exact ON q.doc_id = exact.doc_id
),
sig AS (
  SELECT doc_id, {_P_SIG2} AS sig FROM kept
),
bands AS (
  {_P_BANDS}
),
ok_buckets AS (
  -- replay the engine's LSH_MAX_BUCKET hygiene cap: oversized band
  -- buckets (mass boilerplate) are excluded from pair generation
  -- (operators/dedup.py LSH_MAX_BUCKET; first bites at sf0.1, where
  -- one bucket holds 94 docs — smaller SFs have none oversized)
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key HAVING count(*) <= {dd.LSH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a
  JOIN ok_buckets k ON a.band_id = k.band_id
                   AND a.band_key = k.band_key
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
neardup AS (
  SELECT DISTINCT c.doc2
  FROM cand c
  JOIN kept d1 ON d1.doc_id = c.doc1
  JOIN kept d2 ON d2.doc_id = c.doc2
  WHERE {dd.sql_jaccard('d1.sh', 'd2.sh')} >= 0.08
),
final AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc2 FROM neardup)
)
SELECT lang, count(*) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
FROM final
GROUP BY lang
""",
)
def pipeline_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pipeline as ONE composed query:
    quality filter (length + uniqueness) -> exact dedup (content-key
    groupBy) -> MinHash-LSH near-dup candidates -> Jaccard verify ->
    drop the younger twin -> per-language corpus stats. Every stage
    is the operator proved individually elsewhere; this entry proves
    they compose — the thing a 100 TB curation job actually runs.
    Shuffle inventory: content-key agg, band join, two candidate
    lookups, final group-by — all uniform keys."""
    from pyspark.sql import Window

    toks = tx.ws_tokens("text")
    # Token arrays exist only transiently for the quality filter; the
    # persisted table carries the scalar count (what the final stats
    # need) — at 100 TB that keeps the cached/shuffled footprint at
    # shingles + scalars instead of two large arrays per row.
    q = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select(
            "doc_id",
            "lang",
            toks.alias("toks"),
            dd.word_shingles("text", 2).alias("sh"),
            F.md5(dd.normalized_text("text")).alias("ckey"),
        )
        .filter(
            (F.size("toks") >= 20)
            & (F.size(F.array_distinct("toks")) / F.size("toks") >= 0.4)
        )
        .select("doc_id", "lang", "sh", "ckey", F.size("toks").alias("n_toks"))
    )
    # Exact dedup as ONE shuffle: first row per content key (min
    # doc_id) via window group-limit, instead of groupBy + join back
    # (two shuffles). Spark pushes the rank filter into a partial
    # top-1 per partition (InferWindowGroupLimit). ckey is dead after
    # the window — dropping it keeps it out of the persisted cache
    # and every downstream exchange (guide §2.3). A no-persist
    # variant was measured and REJECTED: the three kept consumers'
    # pruned projections differ, so no exchange reuses and the
    # executed plan re-scans documents 4x (r18).
    w_ck = Window.partitionBy("ckey").orderBy("doc_id")
    kept = (
        q.withColumn("__rn", F.row_number().over(w_ck))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "sh", "n_toks")
        .persist()
    )
    # distinct_pairs=False / no DISTINCT before the anti join: both
    # dedups were full shuffles of the pair / doc-id sets whose only
    # effect is collapsing multi-band collisions, and this pipeline's
    # downstream is set-semantic anyway (the LEFT ANTI probe ignores
    # duplicate build keys), so the final result is identical with
    # two fewer exchanges (guide §2.4); the price is at most
    # bands-1 duplicate jaccard verifications on multi-band (i.e.
    # highest-similarity) pairs. Oracle unchanged (its NOT IN is
    # set-semantic too); green at all SFs.
    cand = dd.lsh_candidate_pairs(
        kept.select("doc_id", "sh"), "doc_id", "sh", distinct_pairs=False
    )
    d1 = kept.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    d2 = kept.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    neardup = (
        cand.join(d1, "id1")
        .join(d2, "id2")
        .filter(dd.jaccard(F.col("sh1"), F.col("sh2")) >= 0.08)
        .select(F.col("id2").alias("doc_id"))
    )
    final = kept.join(neardup, "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
    )


@register(
    "ann_ivf_kmeans",
    oracle="""
SELECT 'recall_at_5' AS metric,
       CAST(5 AS BIGINT) AS n_queries,
       TRUE AS meets_floor
""",
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with trained centroids — the production variant of
    ann_ivf_topk: k-means (pyspark.ml, fixed seed) learns the 8
    coarse lists, candidates are assigned once, queries probe their
    nearest list. The clustering itself is engine-specific, so the
    checkable output is the quality contract: the IVF top-k is
    compared against the exact brute-force top-k inside the query and
    one metric row asserts the recall floor (0.2, the same floor
    tests/test_quality.py holds for the sampled-centroid twin). A
    recall regression flips meets_floor -> hash mismatch."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    cand = emb.filter(F.col("vec_id") >= 5)
    model = KMeans(
        k=8, seed=42, featuresCol="vec", predictionCol="list_id"
    ).fit(cand.select("vec"))
    cand_assigned = model.transform(cand).select(
        "vec_id", F.col("embedding").alias("ev"), "list_id"
    )
    q_assigned = model.transform(emb.filter(F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "list_id",
    )
    scored = q_assigned.join(cand_assigned, "list_id").select(
        "query_id",
        "vec_id",
        F.round(sim.cosine(F.col("qv"), F.col("ev")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    ivf_hits = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "vec_id")
    )
    # Exact brute-force top-5 per query (same ranking rule), the
    # ground truth for recall.
    exact = (
        emb.filter(F.col("vec_id") >= 5)
        .select("vec_id", F.col("embedding").alias("ev"))
        .crossJoin(
            F.broadcast(
                emb.filter(F.col("vec_id") < 5).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                )
            )
        )
        .select(
            "query_id",
            "vec_id",
            F.round(sim.cosine(F.col("qv"), F.col("ev")), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "vec_id")
    )
    per_query = (
        exact.join(
            ivf_hits.withColumn("hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 5.0).alias(
                "recall"
            )
        )
    )
    return per_query.agg(
        F.lit("recall_at_5").alias("metric"),
        F.count("*").alias("n_queries"),
        (F.avg("recall") >= 0.2).alias("meets_floor"),
    )


@register(
    "events_decode_csv_topic",
    oracle="""
WITH lines AS (
  SELECT event_id,
         event_type || ',' || CAST(user_id AS VARCHAR) || ','
           || CAST(round(value, 4) AS VARCHAR) AS line
  FROM events WHERE event_id < 500
)
SELECT event_id,
       string_split(line, ',')[1] AS f_type,
       CAST(string_split(line, ',')[2] AS BIGINT) AS f_user,
       CAST(string_split(line, ',')[3] AS DOUBLE) AS f_value
FROM lines
""",
)
def events_decode_csv_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV message decoder for topic-as-table (reference
    presto-record-decoder/.../csv): encode each event as a delimited
    line (the raw message), then decode back into typed columns with
    split + casts — round-trip through the decoder proves field
    alignment and type coercion."""
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    line = F.concat_ws(
        ",",
        "event_type",
        F.col("user_id").cast("string"),
        F.round("value", 4).cast("string"),
    )
    parts = F.split(line, ",")
    return events.select(
        "event_id",
        F.element_at(parts, 1).alias("f_type"),
        F.element_at(parts, 2).cast("bigint").alias("f_user"),
        F.element_at(parts, 3).cast("double").alias("f_value"),
    )


@register(
    "mm_chunk_payload",
    oracle="""
WITH m AS (
  -- DuckDB 1.0 cannot substring BLOBs; the fixture text is pure
  -- ASCII (octet_length == length, checked), so chunking the VARCHAR
  -- and measuring its bytes is exactly the binary chunking.
  SELECT doc_id, text AS src FROM documents
  WHERE doc_id < 100
),
idx AS (
  SELECT doc_id, src,
         unnest(generate_series(1,
           CAST(ceil(octet_length(CAST(src AS BLOB)) / 64.0) AS BIGINT))) AS i
  FROM m
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       octet_length(CAST(substring(src, CAST((i - 1) * 64 + 1 AS INT), 64)
                         AS BLOB)) AS chunk_bytes
FROM idx
""",
)
def mm_chunk_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload chunking — the segmentation stage of an audio/video
    pipeline: split each opaque binary payload into fixed 64-byte
    windows WITH ORDINALITY, all JVM-side (binary substring), no
    decode needed. At 100 TB this runs inside the scan stage; chunks
    feed the Arrow decode stub downstream."""
    media = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
    )
    n_chunks = F.ceil(F.octet_length("payload") / 64.0)
    return media.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(1), n_chunks)).alias("pos", "i"),
        F.col("payload"),
    ).select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_id"),
        F.octet_length(
            F.expr("substring(payload, (i - 1) * 64 + 1, 64)")
        ).alias("chunk_bytes"),
    )


@register(
    "text_ngram_freq",
    oracle=f"""
WITH grams AS (
  SELECT lang, unnest({dd.sql_word_shingles('text', 2)}) AS gram
  FROM documents
),
counts AS (
  SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram
)
SELECT lang, gram, n, rnk FROM (
  SELECT lang, gram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rnk
  FROM counts
) WHERE rnk <= 5
""",
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: explode distinct bigram shingles,
    count per (lang, gram), top-5 per lang. The
    explode -> count -> group-limit shape that vocabulary/contamination
    analyses run at corpus scale; shuffle keys are (lang, gram) —
    high-cardinality, uniform."""
    from pyspark.sql import Window

    grams = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(dd.word_shingles("text", 2)).alias("gram")
    )
    counts = grams.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "gram", "n", "rnk")
    )


_CC_ORACLE = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
sig AS (
  SELECT doc_id, {_SIG} AS sig FROM d
),
bands AS (
  {_BAND_SELECTS}
),
small_buckets AS (
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key
  HAVING count(*) <= {dd.LSH_MAX_BUCKET}
),
kept AS (
  SELECT b.* FROM bands b
  JOIN small_buckets s ON b.band_id = s.band_id AND b.band_key = s.band_key
),
edges AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM kept a
  JOIN kept b ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id1 AS src, id2 AS dst FROM edges
  UNION ALL SELECT id2, id1 FROM edges
),
walk(doc, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.doc
),
cc AS (
  SELECT doc, min(label) AS cluster FROM walk GROUP BY doc
)
SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(min(doc) AS BIGINT) AS representative
FROM cc
GROUP BY cluster
"""


@register("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the LSH
    candidate-pair graph (operators/dedup.py connected_components —
    iterative min-label propagation, driver-controlled loop,
    fully-distributed rounds). The oracle replays it with a
    RECURSIVE CTE — the reference has neither (0.235 CTEs are
    non-recursive, SURVEY §2.8), making this a beyond-reference
    iterative-algorithm entry that is still exactly verified."""
    d = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", dd.word_shingles("text").alias("sh"))
        .persist()
    )
    edges = dd.lsh_candidate_pairs(d, "doc_id", "sh")
    labels = dd.connected_components(edges)
    return labels.groupBy(F.col("label").alias("cluster")).agg(
        F.count("*").cast("bigint").alias("cluster_size"),
        F.min("vertex").cast("bigint").alias("representative"),
    )


@register("dedup_cc_star", oracle=_CC_ORACLE)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as dedup_connected_components, computed by the
    WEB-SCALE algorithm: alternating large-star / small-star rounds
    (operators/dedup.connected_components_star — O(log n) rounds vs
    graph diameter; Kiveris et al.). Identical oracle: both variants
    must land on the same clusters — and do, exactly."""
    d = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", dd.word_shingles("text").alias("sh"))
        .persist()
    )
    edges = dd.lsh_candidate_pairs(d, "doc_id", "sh")
    labels = dd.connected_components_star(edges)
    return labels.groupBy(F.col("label").alias("cluster")).agg(
        F.count("*").cast("bigint").alias("cluster_size"),
        F.min("vertex").cast("bigint").alias("representative"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline additions (round 2): benchmark decontamination,
# deterministic stratified sampling, intra-document repetition signal.


@register(
    "text_decontaminate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({dd.sql_word_shingles("text")}) AS s FROM documents
),
ev AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
),
tr AS (
  SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0
)
SELECT tr.doc_id, CAST(count(DISTINCT tr.s) AS BIGINT) AS n_shared
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.doc_id
""",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the n-gram-overlap check every
    serious training pipeline runs before training (flag train docs
    sharing shingles with an eval/benchmark set; doc_id % 97 == 0
    stands in for the benchmark here). Shape: explode shingles,
    DISTINCT the benchmark side, inner-join, count per doc.

    100 TB: eval sets are tiny (benchmarks, not corpora) — the
    distinct benchmark-shingle table broadcasts, so the train side
    never shuffles; cost is one narrow pass over train shingles.
    Beyond-reference surface (closest reference machinery:
    SemiJoinNode + MarkDistinct)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sh = docs.select(
        "doc_id", F.explode(dd.word_shingles("text")).alias("s")
    )
    ev = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .select("s")
        .distinct()
    )
    tr = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
    )


_STRAT_HASH = "CAST(concat('0x', substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"


@register(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {_STRAT_HASH} % 100 <
      CASE WHEN lang = 'en' THEN 10 ELSE 30 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified down-sampling by per-language quota — the
    language-rebalancing step of corpus curation (e.g. cap English
    at 10%, keep 30% of the rest), implemented as a DETERMINISTIC
    hash gate: keep iff portable_hash(doc_id) % 100 < quota(lang).
    Unlike TABLESAMPLE the decision is a pure function of the row —
    reproducible across engines (the oracle replays it), stable
    under retries/stragglers at 1000 executors, and join-free (no
    shuffle at all; reference analog: SampleNode BERNOULLI, which is
    RNG-based and NOT reproducible)."""
    from presto_0_235_spark.functions.aggregate import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(
        F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))
    )
    quota = F.when(F.col("lang") == "en", 10).otherwise(30)
    return docs.filter(F.pmod(h, F.lit(100)) < quota).select(
        "doc_id", "lang"
    )


_WORDS = f"string_split({dd.sql_normalized_text('text')}, ' ')"
_GRAMS2 = (
    f"list_transform(generate_series(1, greatest(len({_WORDS}) - 1, 1)), "
    f"i -> array_to_string(({_WORDS})[i:i+1], ' '))"
)


@register(
    "text_repetition_score",
    oracle=f"""
SELECT doc_id,
       CAST(len({_GRAMS2}) AS BIGINT) AS n_grams,
       round(1 - len(list_distinct({_GRAMS2})) / len({_GRAMS2}), 6)
         AS rep_score
FROM documents
""",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signal (Gopher/C4-style quality
    rule: heavily repeated n-grams mark boilerplate/spam): fraction
    of duplicate word 2-grams, 1 - distinct/total. Pure per-row
    expressions — zero shuffles at any scale; composes with
    text_quality_score as another filter column."""
    words = F.split(dd.normalized_text(F.col("text")), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(words) - 1, F.lit(1))
    )
    grams = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(words, i, 2))
    )
    docs = load_table(spark, sf_dir, "documents", spread=True)
    g = docs.select("doc_id", grams.alias("g"))
    return g.select(
        "doc_id",
        F.size("g").cast("bigint").alias("n_grams"),
        F.round(
            1 - F.size(F.array_distinct("g")) / F.size("g"), 6
        ).alias("rep_score"),
    )


@register(
    "ts_rollup_gapfill",
    oracle=f"""
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value
  FROM events WHERE event_id % 20 = 0
),
agg AS (
  SELECT event_type, bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS sum_value
  FROM ev GROUP BY event_type, bucket
),
bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM agg
  GROUP BY event_type
),
spine AS (
  SELECT event_type,
         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT s.event_type, s.bucket,
       coalesce(a.n_events, 0) AS n_events,
       last_value(a.sum_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket
       ) AS sum_value_locf
FROM spine s LEFT JOIN agg a
  ON s.event_type = a.event_type AND s.bucket = a.bucket
""",
)
def ts_rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup with gap-filling and LOCF
    interpolation (the TimescaleDB time_bucket_gapfill / locf shape —
    a custom operator the reference lacks; its closest machinery is
    date_trunc + GROUP BY): hourly rollup per event type, a generated
    bucket spine covering [min, max] per type so EMPTY buckets
    surface as rows (count 0), and last-observation-carried-forward
    over the sparse sum via an IGNORE NULLS running window.

    100 TB: the rollup is one uniform (type, bucket) shuffle with
    partial aggregation; the spine is generated from per-type bounds
    (tiny) and the gap-fill join is spine-sized, not event-sized; the
    LOCF window partitions by type — no global ordering anywhere."""
    from pyspark.sql import Window
    from presto_0_235_spark.functions.compat import dec_sum

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "value",
        )
    )
    agg = ev.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n_events"),
        dec_sum("value", "sum_value"),
    )
    bounds = agg.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    return (
        spine.join(agg, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.last("sum_value", ignorenulls=True)
            .over(w)
            .alias("sum_value_locf"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH iv AS (
  SELECT event_id, event_type, date_trunc('second', ts) AS s,
         date_trunc('second', ts)
           + to_seconds(CAST(round(value * 600) AS BIGINT)) AS e
  FROM events WHERE event_id % 25 = 0
)
SELECT a.event_id AS id1, b.event_id AS id2, a.event_type,
       CAST(epoch(least(a.e, b.e)) - epoch(greatest(a.s, b.s))
            AS BIGINT) AS overlap_s
FROM iv a JOIN iv b
  ON a.event_type = b.event_type AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-overlap) join — the binned scale path, not a
    nested-loop. Each interval [s, e] (event ts + value*600 seconds)
    explodes into the hour buckets it spans; candidates join on the
    uniform (type, bucket) key; exact overlap predicates filter; a
    distinct collapses intervals meeting in several buckets. The
    reference runs range predicates as nested-loop joins
    (JoinFilterFunction residuals) — O(n^2); this is O(n * buckets +
    true pairs), the interval-binning layout Spark needs at 100 TB.
    The oracle is the direct quadratic range join on DuckDB — same
    pairs, proving the binning loses nothing."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 25 == 0)
        .select(
            "event_id",
            "event_type",
            # value*600s spans (regenerated fixtures spread events so
            # value*10s intervals never overlapped — a vacuous
            # differential); ~multi-hour intervals yield hundreds of
            # true pairs at sf0.01.
            # Whole-second bounds on BOTH engines: mixed-precision
            # endpoints would make the overlap arithmetic disagree on
            # sub-second fractions (Spark truncates, DuckDB keeps
            # micros).
            F.date_trunc("second", F.col("ts")).alias("s"),
            F.timestamp_seconds(
                F.unix_timestamp("ts")
                + F.round(F.col("value") * 600).cast("long")
            ).alias("e"),
        )
    )
    binned = ev.select(
        "*",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    a, b = binned.alias("a"), binned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.event_id").alias("id1"),
            F.col("b.event_id").alias("id2"),
            F.col("a.event_type").alias("event_type"),
            (
                F.unix_timestamp(F.least(F.col("a.e"), F.col("b.e")))
                - F.unix_timestamp(F.greatest(F.col("a.s"), F.col("b.s")))
            ).alias("overlap_s"),
        )
        .distinct()
    )


@register(
    "events_sessionize",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('second', ts) AS ts
  FROM events WHERE user_id < 40
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS duration_s
FROM sessions
GROUP BY user_id, session_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gaps-and-islands operator every
    event pipeline needs (30-min inactivity gap -> session id via
    lag + running sum; the batch twin of the streaming
    session_window). One shuffle on user_id serves both windows and
    the final aggregate — Spark reuses the partitioning. DuckDB
    replays the identical window algebra."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", F.date_trunc("second", F.col("ts")).alias("ts"))
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(
            prev.isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 1800),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(w_run)
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
    )


@register(
    "embedding_centroids",
    oracle="""
WITH dims AS (
  SELECT vec_id % 4 AS shard,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
)
SELECT shard, CAST(dim AS INT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000.0 / count(*) AS centroid
FROM dims
GROUP BY shard, dim
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: element-wise centroid of an embedding
    column per group (the k-means/update and class-prototype step a
    training pipeline runs on billions of vectors). posexplode emits
    (dim, value) rows; one (group, dim) shuffle with map-side partial
    sums computes all coordinates at once. Coordinates are cast
    float->double (exact) then FLOOR-quantized to the 1e-6 grid
    before the integer sum: floor (unlike round) has no .5-tie, so
    the quantization is IEEE-identical on every engine for ARBITRARY
    doubles — each coordinate's mean is bit-exact, order-independent,
    and within 1e-6 of the unquantized mean. The reference has no
    vector aggregate at all. 1-based dim matches DuckDB's
    generate_subscripts."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        (F.col("vec_id") % 4).alias("shard"),
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    )
    return (
        dims.groupBy("shard", (F.col("dim0") + 1).cast("int").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.floor(F.col("x").cast("double") * 1000000).cast("long")
                )
                .cast("double")
                / F.lit(1000000.0)
                / F.count("*")
            ).alias("centroid"),
        )
    )


@register(
    "ann_int8_topk",
    oracle=f"""
WITH qz AS (
  SELECT vec_id, {sim.sql_int8_quantize('embedding')} AS q
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 5),
c AS (SELECT vec_id, q AS cq FROM qz WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({sim.sql_int8_cosine('q.qq', 'c.cq')}, 6) AS qscore
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id, qscore,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qscore DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, qscore, rnk FROM ranked WHERE rnk <= {_TOPK}
""",
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8-quantized embeddings — the memory path for a
    100B-vector store: symmetric per-vector quantization shrinks the
    candidate store 4x vs float32 AND turns the scoring hot loop into
    exact integer multiply-adds (SIMD-friendly; no fp until one final
    divide). Standard large-scale retrieval practice: quantized scan
    first, exact re-rank of the survivors if needed (here the top-k
    itself, matching ann_cosine_topk's contract).

    Determinism: codes are floor-quantized (engine-identical for
    arbitrary doubles), dots and norms are exact bigints, so the
    differential oracle checks real values, not tolerances.

    Scale: quantization is a narrow per-row map (do it ONCE at
    ingest and store array<tinyint> + scale); scoring broadcasts the
    tiny quantized query set; per-query top-k is the same
    InferWindowGroupLimit partial top-k as the float path — nothing
    N-sized shuffles."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qz = emb.select("vec_id", sim.int8_quantize(F.col("embedding")).alias("q"))
    q = qz.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    c = spread_scan(qz.filter(F.col("vec_id") >= 5)).select(
        "vec_id", F.col("q").alias("cq")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(sim.int8_cosine(F.col("qq"), F.col("cq")), 6).alias("qscore"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "vec_id", "qscore", "rnk")
    )


@register(
    "text_pii_redact",
    oracle=r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com or +1-555-' ||
         lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
         ' from 10.0.' || (doc_id % 256) || '.1' AS raw
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '\+?1?-?555-[0-9]{4}', '<PHONE>', 'g'),
         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted,
       length(raw) - length(
         regexp_replace(
           regexp_replace(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\+?1?-?555-[0-9]{4}', '<PHONE>', 'g'),
           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
       ) AS bytes_removed
FROM seeded
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub pass every training-data pipeline
    runs before anything ships: emails, phone numbers, and IPv4
    addresses replaced with typed placeholder tokens via chained
    regexp_replace. The synthetic corpus carries no PII, so the query
    SEEDS deterministic fake PII per row first (same construction on
    both engines), making the replacements real, counted, and
    oracle-checked.

    Patterns stay inside the RE2-compatible subset (no lookbehind) so
    Java regex (Spark) and RE2 (other engines) agree character-for-
    character.

    Scale: pure per-row expressions, zero shuffles — runs at scan
    speed on any corpus size."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )

    def redact(c):
        c = F.regexp_replace(
            c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
        )
        c = F.regexp_replace(c, r"\+?1?-?555-[0-9]{4}", "<PHONE>")
        return F.regexp_replace(
            c, r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"
        )

    return docs.select(
        "doc_id",
        redact(raw).alias("redacted"),
        (F.length(raw) - F.length(redact(raw))).alias("bytes_removed"),
    )


@register(
    "docs_split_assign",
    oracle="""
SELECT doc_id,
       ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100
         AS bucket,
       CASE
         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 80
           THEN 'train'
         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 90
           THEN 'validation'
         ELSE 'test'
       END AS split
FROM documents
""",
)
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test split assignment (80/10/10)
    — hash-gated, so membership is a pure function of the stable key:
    reproducible across runs, engines, and re-partitions, and adding
    documents never reassigns existing ones (the property random
    splits lack). Same portable md5-prefix gate as stratified
    sampling (operators/dedup.py note: Spark hash()/xxhash64 are
    engine-private, md5 is everywhere).

    Scale: narrow per-row projection, zero shuffles; at 100 TB the
    split column is computed at scan speed and usually written back
    as a partition column."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "docs_domain_cap",
    oracle="""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT source, doc_id, n_chars, rk
FROM ranked WHERE rk <= 10
""",
)
def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the anti-domination pass that stops
    one crawl domain from flooding the corpus: keep the top-K
    documents per source (here K=10 by length, doc_id tiebreak).
    The reference's closest shape is row_number-with-filter; a
    curation pipeline runs it with quality score as the ranking key.

    Scale: top-K-per-group lowers to InferWindowGroupLimit — partial
    top-K per partition BEFORE the shuffle, so only ~K rows per
    domain per partition move; skewed domains (the exact problem this
    op exists to fix) never concentrate on one task."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "doc_id", "n_chars", "rk")
    )


@register(
    "docs_pack_sequences",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_toks,
         SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_toks
  FROM toks
)
SELECT lang,
       CAST(floor((cum_toks - n_toks) / 2048) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM packed
GROUP BY lang, CAST(floor((cum_toks - n_toks) / 2048) AS BIGINT)
""",
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the batching step between curation and
    training: concatenate documents (per language, in stable doc_id
    order) into fixed token-budget training sequences (budget 2048).
    Binning is cumulative-budget assignment: a document starts in the
    sequence its running-total start offset falls in — the
    one-window-pass packing a distributed pipeline actually runs
    (true greedy first-fit is inherently sequential; start-offset
    binning is its deterministic, shuffle-once approximation and is
    exact when documents are budget-sized or smaller).

    Scale: one window partitioned by lang (the pack group) + one
    groupBy on (lang, seq_id) — both shuffle the same key, and AQE
    reuses the partitioning; per-row token counts are pure
    expressions. At 100 TB the pack group adds a date/shard
    component so no single partition holds a whole language.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.select(
        "doc_id", "lang", n_toks.alias("n_toks")
    ).withColumn("cum_toks", F.sum("n_toks").over(w))
    return (
        packed.groupBy(
            "lang",
            F.floor((F.col("cum_toks") - F.col("n_toks")) / 2048)
            .cast("bigint")
            .alias("seq_id"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "join_spatial_radius",
    oracle="""
WITH cust_pts AS (
  SELECT c_custkey AS id,
         (('0x' || substr(md5('x' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS x,
         (('0x' || substr(md5('y' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS y
  FROM customer WHERE c_custkey < 500
),
supp_pts AS (
  SELECT s_suppkey AS id,
         (('0x' || substr(md5('x' || s_suppkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS x,
         (('0x' || substr(md5('y' || s_suppkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS y
  FROM supplier
)
SELECT c.id AS cust_id, s.id AS supp_id,
       round(sqrt((c.x - s.x) * (c.x - s.x)
                  + (c.y - s.y) * (c.y - s.y)), 6) AS dist
FROM cust_pts c
JOIN supp_pts s
  ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) < 4.0
""",
)
def join_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial join — point-radius pairing (reference
    MAIN/operator/SpatialJoinOperator.java + the
    ExtractSpatialJoins.java grid partitioning that makes it
    distributed in presto-geospatial). The reference builds an R-tree
    per partition of a KDB-partitioned build side; the Spark-first
    equivalent is GRID-CELL bucketing — the 2D sibling of the binned
    interval join (`join_interval_overlap`): assign each point to a
    floor(x/r), floor(y/r) cell, replicate the probe side to its 3x3
    cell neighborhood (every within-r pair shares a neighborhood by
    the triangle inequality — lossless), equi-join on cell id, then
    the exact distance filter. Coordinates here are md5-derived
    (deterministic, portable); the metric is planar Euclidean, the
    oracle is the direct quadratic join.

    Scale: the equi-join shuffles on uniform hash-derived cell ids —
    no quadratic blowup (each probe point lands in exactly 9 cells,
    candidates are O(density), the exact filter prunes the rest), and
    AQE handles any dense-cell skew; the reference's KDB-tree
    partition count maps to cell granularity r."""
    r = 2.0  # radius; cell size == r

    def pts(df, key_col):
        def coord(axis):
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(axis), F.col(key_col).cast("string"))),
                    1, 6,
                ), 16, 10,
            ).cast("bigint")
            return (h % 10000) / F.lit(100.0)

        return df.select(
            F.col(key_col).alias("id"),
            coord("x").alias("x"),
            coord("y").alias("y"),
        )

    cust = pts(
        load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500),
        "c_custkey",
    )
    supp = pts(load_table(spark, sf_dir, "supplier"), "s_suppkey")
    # Build side: home cell only. Probe side: 3x3 neighborhood.
    supp_cells = supp.select(
        "id", "x", "y",
        F.floor(F.col("x") / r).alias("cx"),
        F.floor(F.col("y") / r).alias("cy"),
    )
    neighbors = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    cust_cells = (
        cust.select("id", "x", "y", neighbors.alias("n"))
        .select(
            "id", "x", "y",
            (F.floor(F.col("x") / r) + F.col("n.dx")).alias("cx"),
            (F.floor(F.col("y") / r) + F.col("n.dy")).alias("cy"),
        )
    )
    d2 = (
        (cust_cells.x - supp_cells.x) * (cust_cells.x - supp_cells.x)
        + (cust_cells.y - supp_cells.y) * (cust_cells.y - supp_cells.y)
    )
    return (
        cust_cells.join(
            supp_cells,
            (cust_cells.cx == supp_cells.cx)
            & (cust_cells.cy == supp_cells.cy),
        )
        .filter(d2 < r * r)
        .select(
            cust_cells.id.alias("cust_id"),
            supp_cells.id.alias("supp_id"),
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
    )


@register(
    "docs_pack_materialize",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks
  FROM documents WHERE doc_id < 120
),
packed AS (
  SELECT doc_id, lang, text, n_toks,
         SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT lang,
       CAST(floor((cum - n_toks) / 2048) AS BIGINT) AS seq_id,
       string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS sequence_text,
       CAST(SUM(n_toks) AS BIGINT) AS seq_tokens
FROM packed
GROUP BY lang, CAST(floor((cum - n_toks) / 2048) AS BIGINT)
""",
)
def docs_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize packed training sequences: the documents assigned
    to each (lang, seq_id) bin by `docs_pack_sequences` concatenated
    IN ORDER with a double-newline separator — the actual byte stream
    a trainer reads. Ordered concatenation inside a group is
    collect-structs -> array_sort -> join (array_sort on structs
    orders by the leading doc_id field), all expression-level; the
    oracle is ORDER BY-qualified string_agg.

    Scale: same single (lang-bin) shuffle as the assignment query;
    sequence payloads are budget-bounded (~2048 tokens) so no group
    blows up a task."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    n_toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.select(
        "doc_id", "lang", "text", n_toks.alias("n_toks")
    ).withColumn("cum", F.sum("n_toks").over(w))
    return (
        packed.groupBy(
            "lang",
            F.floor((F.col("cum") - F.col("n_toks")) / 2048)
            .cast("bigint")
            .alias("seq_id"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s.text,
                ),
                "\n\n",
            ).alias("sequence_text"),
            F.sum("n_toks").cast("bigint").alias("seq_tokens"),
        )
    )


from presto_0_235_spark.functions.aggregate import (
    oracle_portable_hash64 as _oracle_hash64,
)

_RES_HASH = _oracle_hash64("'res|' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_reservoir_per_group",
    oracle=f"""
SELECT lang, doc_id
FROM documents
QUALIFY row_number() OVER (PARTITION BY lang
                           ORDER BY {_RES_HASH}, doc_id) <= 50
""",
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample — reservoir-sampling semantics
    (reference operator/aggregation/reservoirsample/
    UnweightedDoubleReservoirSample.java holds a bounded random
    subset) made DETERMINISTIC and distributed: rank rows per group
    by a portable 64-bit hash (uniform, so the top-K by hash IS a
    uniform K-subset) and keep rank <= K. A true reservoir needs
    sequential state; the hash-rank formulation is its
    order-independent equivalent — same marginal distribution,
    reproducible across engines/retries, and the row_number filter
    plans a WindowGroupLimit (partial top-K per partition BEFORE the
    shuffle), so a billion-row group ships only K rows per task.
    Complement of sample_stratified (fraction per group vs exact
    size per group)."""
    from pyspark.sql import Window

    from presto_0_235_spark.functions.aggregate import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(
        F.concat(F.lit("res|"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 50)
        .select("lang", "doc_id")
    )


from presto_0_235_spark.functions.geo import ray_cast_sql as _ray_cast_sql

# Per-supplier diamond (rotated square) of L2-radius _DIAMOND_R around
# an md5-derived center — the closed ring and its SQL-expression twin.
_DIAMOND_R = 1.5
_DIAMOND_SQL_VERTICES = [
    ("(s.cx + 1.5)", "s.cy"),
    ("s.cx", "(s.cy + 1.5)"),
    ("(s.cx - 1.5)", "s.cy"),
    ("s.cx", "(s.cy - 1.5)"),
    ("(s.cx + 1.5)", "s.cy"),
]


@register(
    "join_spatial_contains",
    oracle=f"""
WITH cust_pts AS (
  SELECT c_custkey AS id,
         (('0x' || substr(md5('x' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS x,
         (('0x' || substr(md5('y' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS y
  FROM customer WHERE c_custkey < 500
),
supp_ctr AS (
  SELECT s_suppkey AS id,
         (('0x' || substr(md5('x' || s_suppkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS cx,
         (('0x' || substr(md5('y' || s_suppkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS cy
  FROM supplier
)
SELECT c.id AS cust_id, s.id AS supp_id
FROM cust_pts c
JOIN supp_ctr s
  ON {_ray_cast_sql("c.x", "c.y", _DIAMOND_SQL_VERTICES)}
""",
)
def join_spatial_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial CONTAINMENT join — ST_Contains(polygon, point) as a
    distributed equi-join (the reference rewrites ST_Contains
    θ-joins into its grid-partitioned SpatialJoinOperator:
    ExtractSpatialJoins.java:107-114 + GeoFunctions.java:1021).
    Spark-first shape, same cell machinery as join_spatial_radius
    but ENVELOPE-driven: each polygon (here a per-supplier diamond
    ring) is replicated to every grid cell its bounding box
    overlaps, each point maps to exactly its home cell, the
    equi-join on cell id meets every (point, containing-polygon)
    pair exactly once (a containing polygon's envelope necessarily
    covers the point's home cell; points live in ONE cell so there
    are no duplicate pairs to dedup), and the exact ray-casting
    predicate (functions/geo.py st_contains_ring) filters
    candidates. The oracle is the quadratic join with the identical
    crossing arithmetic unrolled edge-by-edge.

    Scale: polygons replicate to O(envelope_area / cell_area) cells
    (here ≤4), points never replicate, the join shuffles on uniform
    hash-derived cell ids — candidates are O(density), no quadratic
    blowup, AQE absorbs dense-cell skew; cell size tunes the
    replication/selectivity trade exactly like the reference's
    KDB-tree leaf granularity."""
    from presto_0_235_spark.functions import geo

    r, s = _DIAMOND_R, 4.0

    def coords(df, key_col):
        def coord(axis):
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(axis), F.col(key_col).cast("string"))),
                    1, 6,
                ), 16, 10,
            ).cast("bigint")
            return (h % 10000) / F.lit(100.0)

        return df.select(
            F.col(key_col).alias("id"),
            coord("x").alias("x"),
            coord("y").alias("y"),
        )

    cust = coords(
        load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500),
        "c_custkey",
    )
    supp = coords(load_table(spark, sf_dir, "supplier"), "s_suppkey")
    cx, cy = F.col("x"), F.col("y")
    ring = F.array(
        geo.st_point(cx + r, cy),
        geo.st_point(cx, cy + r),
        geo.st_point(cx - r, cy),
        geo.st_point(cx, cy - r),
        geo.st_point(cx + r, cy),
    )
    # envelope cell fan-out: every (gx, gy) the bounding box overlaps
    cell_grid = F.explode(
        F.flatten(
            F.transform(
                F.sequence(
                    F.floor((cx - r) / s), F.floor((cx + r) / s)
                ),
                lambda gx: F.transform(
                    F.sequence(
                        F.floor((cy - r) / s), F.floor((cy + r) / s)
                    ),
                    lambda gy: F.struct(
                        gx.alias("gx"), gy.alias("gy")
                    ),
                ),
            )
        )
    )
    supp_cells = supp.select(
        F.col("id"), ring.alias("ring"), cell_grid.alias("cell")
    ).select("id", "ring", "cell.gx", "cell.gy")
    cust_cells = cust.select(
        "id", "x", "y",
        F.floor(cx / s).alias("gx"),
        F.floor(cy / s).alias("gy"),
    )
    p = F.struct(cust_cells.x.alias("x"), cust_cells.y.alias("y"))
    return (
        cust_cells.join(
            supp_cells,
            (cust_cells.gx == supp_cells.gx)
            & (cust_cells.gy == supp_cells.gy),
        )
        .filter(geo.st_contains_ring(supp_cells.ring, p))
        .select(
            cust_cells.id.alias("cust_id"),
            supp_cells.id.alias("supp_id"),
        )
    )


_TEMP_HASH = _oracle_hash64("'temp|' || CAST(doc_id AS VARCHAR)")


@register(
    "docs_sample_temperature",
    oracle=f"""
WITH stats AS (
  SELECT source, CAST(floor(8 * sqrt(count(*))) AS BIGINT) AS n_keep
  FROM documents GROUP BY source
)
SELECT d.source, d.doc_id
FROM documents d
JOIN stats s ON d.source = s.source
QUALIFY row_number() OVER (PARTITION BY d.source
                           ORDER BY {_TEMP_HASH}, d.doc_id) <= s.n_keep
""",
)
def docs_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing — the standard LLM
    data-mixing move (sample domain d with weight proportional to
    share_d^alpha, alpha < 1, so head domains shrink and tail
    domains survive; alpha = 0.5 here). Deterministic contract: keep
    floor(c * sqrt(count_d)) documents per domain (c = 8, the global
    mixing knob), selected by portable-hash rank — the same
    hash-rank uniform-subset device as sample_reservoir_per_group,
    so the kept set is reproducible across engines, retries, and
    partitionings. sqrt keeps the boundary safe: for any integer
    count, 8*sqrt(count) is either an exact integer (perfect
    square) or far from one, so floor agrees bit-for-bit on any
    IEEE engine.

    Scale: one tiny domain-stats aggregate broadcasts back onto the
    corpus. The per-domain rank filter is a CONJUNCTION of the exact
    per-domain cap (`__rn <= n_keep`, a column) and a CONSTANT
    conservative cap (`__rn <= max(n_keep)`, a driver-side scalar off
    the same tiny aggregate) — InferWindowGroupLimit only fires on
    foldable limits, so the constant leg is what turns the full
    per-domain sort into a WindowGroupLimit: every map task keeps at
    most max_keep = O(sqrt(largest domain)) rows per domain before
    the shuffle, so a skewed megadomain ships O(sqrt(n)) rows instead
    of landing whole in one task — which is the operator's entire
    purpose. The column leg then trims each domain to its exact
    n_keep; results are unchanged (n_keep <= max_keep always)."""
    from pyspark.sql import Window

    from presto_0_235_spark.functions.aggregate import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.floor(8 * F.sqrt(F.count("*"))).cast("bigint").alias("n_keep")
    )
    # One scalar off the per-domain aggregate (tiny: one row per
    # domain). Collecting it is what makes the window cap foldable.
    max_keep = stats.agg(F.max("n_keep")).collect()[0][0] or 0
    h = portable_hash64(
        F.concat(F.lit("temp|"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.join(F.broadcast(stats), "source")
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") <= F.lit(int(max_keep)))
            & (F.col("__rn") <= F.col("n_keep"))
        )
        .select("source", "doc_id")
    )


@register(
    "agg_spatial_partitioning",
    oracle="""
WITH pts AS (
  SELECT c_custkey AS id,
         (('0x' || substr(md5('x' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS x,
         (('0x' || substr(md5('y' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS y
  FROM customer
),
xb AS (
  SELECT *, ntile(4) OVER (ORDER BY x, id) AS x_band FROM pts
),
yb AS (
  SELECT *, ntile(4) OVER (PARTITION BY x_band ORDER BY y, id) AS y_band
  FROM xb
)
SELECT x_band, y_band,
       CAST(count(*) AS BIGINT) AS n_points,
       round(min(x), 6) AS x_min, round(max(x), 6) AS x_max,
       round(min(y), 6) AS y_min, round(max(y), 6) AS y_max
FROM yb
GROUP BY x_band, y_band
""",
)
def agg_spatial_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatial_partitioning(geometry) (reference
    presto-geospatial/.../SpatialPartitioningAggregateFunction.java
    + SpatialPartitioningInternalAggregateFunction.java — builds a
    KDB tree over a sample so the distributed spatial join gets
    BALANCED partitions): the Spark-first equivalent is a two-level
    equi-depth split — ntile over x (with a total-order tiebreak)
    then ntile over y within each x band — yielding 4x4 cells of
    near-equal population with their bounding boxes, exactly the
    KDB leaf set. This is the data-adaptive alternative to the
    fixed-size grid the join_spatial_* queries use: skewed point
    clouds get smaller cells where density is high.

    Scale: two window passes over the (sample of) points — at
    100 TB the reference samples too (its aggregate keeps at most
    MAX_SAMPLE points); the ntile windows shuffle once per level on
    uniform keys and every cell's population is n/16 by
    construction, which is the whole point."""
    from pyspark.sql import Window

    def coord(axis):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(axis), F.col("c_custkey").cast("string"))),
                1, 6,
            ), 16, 10,
        ).cast("bigint")
        return (h % 10000) / F.lit(100.0)

    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        coord("x").alias("x"),
        coord("y").alias("y"),
    )
    xb = pts.withColumn(
        "x_band", F.ntile(4).over(Window.orderBy(F.col("x"), F.col("id")))
    )
    yb = xb.withColumn(
        "y_band",
        F.ntile(4).over(
            Window.partitionBy("x_band").orderBy(F.col("y"), F.col("id"))
        ),
    )
    return yb.groupBy("x_band", "y_band").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(F.min("x"), 6).alias("x_min"),
        F.round(F.max("x"), 6).alias("x_max"),
        F.round(F.min("y"), 6).alias("y_min"),
        F.round(F.max("y"), 6).alias("y_max"),
    )


@register("agg_convex_hull")
def agg_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed convex-hull aggregate (the reference's
    convex_hull_agg, presto-geospatial GeometryStateFactory +
    GeoFunctions.java stConvexHull — Esri-backed there; monotone
    chain here, functions/geo.py). TWO-PHASE: per-(group, salt)
    partial hulls first — each partial's output is bounded by its
    HULL size, not its partition size — then hull-of-hull-vertices
    per group, exact because hull(all) == hull(union of hulls).
    That bound is what makes a 100 TB point set feasible: the merge
    sees at most partials x hull_size points per group. Rows-only
    (a convex hull is not expressible in ANSI SQL): the output ring
    is DETERMINISTIC (CCW from the lexicographically smallest
    vertex, explicit seq order), so rows+schema pin it; the
    two-phase == single-pass equality and the all-points-inside
    property are pinned in tests/test_operators.py."""
    from presto_0_235_spark.functions.geo import convex_hull_agg

    k = F.col("o_orderkey")
    pts = (
        load_table(spark, sf_dir, "orders")
        .filter(k < 2000)
        .select(
            F.col("o_orderpriority").alias("grp"),
            (
                ((k % 100) / 10.0) * F.cos((k % 89).cast("double"))
            ).alias("px"),
            (
                ((k * 3 % 100) / 10.0) * F.sin((k % 89).cast("double"))
            ).alias("py"),
        )
    )
    hull = convex_hull_agg(pts, ["grp"], "px", "py")
    return hull.select(
        "grp", "seq",
        F.round("px", 9).alias("x"), F.round("py", 9).alias("y"),
    ).orderBy("grp", "seq")


@register(
    "events_decode_raw_topic",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(user_id) AS BIGINT) AS max_user,
       min(ts) AS first_ts
FROM events
GROUP BY event_type
""",
)
def events_decode_raw_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka RAW record decoder (presto-record-decoder/.../raw
    RawRowDecoder: fixed byte offsets of the binary message mapped to
    typed columns, big-endian numerics). The message is ENCODED
    in-engine — 8-byte BE user_id ++ 8-byte BE epoch-micros ++ utf8
    event_type tail — then decoded back by byte slicing with the
    engine's own to/from_big_endian_64 (VarbinaryFunctions.java
    codecs), so the decoder path under test is the same binary
    arithmetic the reference's decoder performs. The oracle computes
    the same aggregate straight from the source table: any
    encode/decode discrepancy (offset, sign, endianness, utf8 tail)
    breaks the match. Pure Column expressions end to end."""
    from presto_0_235_spark.functions import scalar as ps

    events = load_table(spark, sf_dir, "events")
    msg = F.concat(
        ps.to_big_endian_64(F.col("user_id")),
        ps.to_big_endian_64(F.unix_micros(F.col("ts"))),
        F.encode(F.col("event_type"), "utf-8"),
    )
    topic = events.select(msg.alias("message"))
    decoded = topic.select(
        ps.from_big_endian_64(F.substring("message", 1, 8)).alias(
            "user_id"
        ),
        F.timestamp_micros(
            ps.from_big_endian_64(F.substring("message", 9, 8))
        ).alias("ts"),
        F.decode(
            F.substring("message", 17, 1000), "utf-8"
        ).alias("event_type"),
    )
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("user_id").cast("bigint").alias("max_user"),
        F.min("ts").alias("first_ts"),
    )


@register(
    "events_decode_avro_topic",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(user_id) AS BIGINT) AS max_user,
       round(CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)
             / 10000.0, 4) AS sum_value
FROM events
GROUP BY event_type
""",
)
def events_decode_avro_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka AVRO record decoder (presto-record-decoder/.../avro
    AvroRowDecoder: schema-driven decode of BARE Avro datum bytes —
    no container framing — into typed columns). Messages are encoded
    per row with the engine's own Avro binary codec
    (sources/avro.py: zigzag varints, IEEE doubles, length-prefixed
    strings — the spec encoding the Java interop test pins), then
    decoded back by the same schema walk, both directions as Arrow
    pandas UDFs over the bytes column. The oracle recomputes the
    aggregate from the source: any varint/union/float encoding slip
    breaks the match."""
    import io as _io

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from presto_0_235_spark.sources import avro as A

    fields = [
        ("user_id", A.LONG), ("event_type", A.STRING),
        ("value", A.DOUBLE),
    ]

    @pandas_udf("binary")
    def enc(user_id, event_type, value):
        out = []
        for u, t, v in zip(user_id, event_type, value):
            buf = _io.BytesIO()
            for (name, (base, logical)), cell in zip(
                fields, (u, t, v)
            ):
                if cell is None or (
                    isinstance(cell, float) and cell != cell
                    and base != "double"
                ):
                    A._write_long(buf, 0)
                else:
                    A._write_long(buf, 1)
                    A._encode_value(buf, base, logical, cell)
            out.append(buf.getvalue())
        return pd.Series(out)

    @pandas_udf(
        "struct<user_id:bigint,event_type:string,value:double>"
    )
    def dec(msgs):
        rows = []
        for raw in msgs:
            pos = 0
            rec = {}
            for name, (base, logical) in fields:
                branch, pos = A._read_long(raw, pos)
                if branch == 0:
                    rec[name] = None
                else:
                    v, pos = A._decode_value(raw, pos, base, logical)
                    rec[name] = v
            rows.append(rec)
        return pd.DataFrame(rows)

    events = load_table(spark, sf_dir, "events")
    topic = events.select(
        enc("user_id", "event_type", "value").alias("message")
    )
    decoded = topic.select(dec("message").alias("r")).select("r.*")
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("user_id").cast("bigint").alias("max_user"),
        F.round(
            F.sum(F.round(F.col("value") * 10000).cast("bigint"))
            .cast("double")
            / 10000.0,
            4,
        ).alias("sum_value"),
    )


@register(
    "events_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS step_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS step_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS step_purchase,
       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
             / (SELECT count(*) FROM v), 9) AS conv_click,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / (SELECT count(*) FROM v), 9) AS conv_purchase
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase) — the
    event-sequence operator every product-analytics engine carries
    (the reference's users express it exactly as this chain of
    min-timestamp self-joins; ClickHouse ships it as windowFunnel).
    STRICT ordering: each step's timestamp must fall after the
    user's previous step — min-aggregate per step, then join the
    next step's events above that bound. Plan: every stage shuffles
    on user_id, so the three step joins CO-PARTITION on the same
    key (one exchange each for the step aggregates, no re-exchange
    of probe sides); step tables only shrink down the funnel. The
    conversion-rate divisions are exact-integer ratios."""
    events = load_table(spark, sf_dir, "events")

    def first_after(step_type: str, prior: DataFrame, bound: str,
                    out: str) -> DataFrame:
        e = events.filter(F.col("event_type") == step_type)
        return (
            e.join(prior, "user_id")
            .filter(F.col("ts") > F.col(bound))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    counts = (
        v.agg(F.count(F.lit(1)).alias("step_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("step_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("step_purchase")))
    )
    return counts.select(
        F.col("step_view").cast("bigint").alias("step_view"),
        F.col("step_click").cast("bigint").alias("step_click"),
        F.col("step_purchase").cast("bigint").alias("step_purchase"),
        F.round(
            F.col("step_click").cast("double") / F.col("step_view"), 9
        ).alias("conv_click"),
        F.round(
            F.col("step_purchase").cast("double") / F.col("step_view"),
            9,
        ).alias("conv_purchase"),
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH weeks AS (
  SELECT user_id,
         CAST(floor(date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) / 7) AS INT) AS wk
  FROM events
),
cohorts AS (
  SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, wk FROM weeks)
SELECT c.cohort_wk,
       a.wk - c.cohort_wk AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY 1, 2
ORDER BY cohort_wk, week_offset
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users bucketed by first-activity
    week, counted per subsequent active week offset (the standard
    product-analytics rollup the reference's users build from
    min-over-user + distinct-activity joins). Week arithmetic is
    integer day-difference division — no engine week-numbering
    involved, so both engines bucket identically. Plan: one shuffle
    on user_id builds both the cohort table and the distinct
    activity set; the join re-uses that partitioning; the final
    (cohort, offset) aggregate is tiny (weeks x weeks)."""
    events = load_table(spark, sf_dir, "events")
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
    ).cast("int")
    weeks = events.select("user_id", wk.alias("wk"))
    cohorts = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    activity = weeks.distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias(
            "active_users"
        ))
        .orderBy("cohort_wk", "week_offset")
    )


_INC_BAND_OLD = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id,"
    f" {dd.sql_lsh_band_key('sig', b)} AS band_key FROM sig_old"
    for b in range(dd.LSH_BANDS)
)
_INC_BAND_NEW = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id,"
    f" {dd.sql_lsh_band_key('sig', b)} AS band_key FROM sig_new"
    for b in range(dd.LSH_BANDS)
)


@register(
    "dedup_incremental",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
sig_old AS (
  SELECT doc_id, {dd.sql_minhash_signature('sh')} AS sig FROM d
  WHERE doc_id % 2 = 0
),
sig_new AS (
  SELECT doc_id, {dd.sql_minhash_signature('sh')} AS sig FROM d
  WHERE doc_id % 2 = 1
),
bands_old AS (
  {_INC_BAND_OLD}
),
kept_old AS (
  SELECT b.* FROM bands_old b
  JOIN (
    SELECT band_id, band_key FROM bands_old
    GROUP BY band_id, band_key
    HAVING count(*) <= {dd.LSH_MAX_BUCKET}
  ) s ON b.band_id = s.band_id AND b.band_key = s.band_key
),
bands_new AS (
  {_INC_BAND_NEW}
),
cand AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
  FROM bands_new n
  JOIN kept_old o
    ON n.band_id = o.band_id AND n.band_key = o.band_key
)
SELECT c.id_new, c.id_old, {dd.sql_jaccard('dn.sh', 'do_.sh')} AS jac
FROM cand c
JOIN d dn ON dn.doc_id = c.id_new
JOIN d do_ ON do_.doc_id = c.id_old
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus near-dedup — the INGESTION shape: a
    new document batch is LSH-checked against the existing corpus's
    banded signature index only (no old-old pairs — the corpus was
    deduped when built; no new-new pairs — that is the batch's own
    lsh pass), then candidates verify by exact Jaccard. The join is
    |new|*B against |old|*B on the uniform band key with the bucket
    cap on the INDEX side — never all-pairs, and the index table is
    the persisted artifact a production pipeline reuses across
    batches (operators/dedup.py lsh_incremental_pairs). Fixture
    split: doc_id < 600 is the corpus, the rest the batch."""
    d = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", dd.word_shingles("text").alias("sh"))
        .persist()
    )
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    pairs = dd.lsh_incremental_pairs(old, new, "doc_id", "sh")
    dn = d.select(F.col("doc_id").alias("id_new"), F.col("sh").alias("shn"))
    do = d.select(F.col("doc_id").alias("id_old"), F.col("sh").alias("sho"))
    return (
        pairs.join(dn, "id_new")
        .join(do, "id_old")
        .select(
            "id_new", "id_old",
            dd.jaccard(F.col("shn"), F.col("sho")).alias("jac"),
        )
    )


@register(
    "dedup_canonical",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
sig AS (
  SELECT doc_id, {_SIG} AS sig FROM d
),
bands AS (
  {_BAND_SELECTS}
),
small_buckets AS (
  SELECT band_id, band_key FROM bands
  GROUP BY band_id, band_key
  HAVING count(*) <= {dd.LSH_MAX_BUCKET}
),
kept AS (
  SELECT b.* FROM bands b
  JOIN small_buckets s ON b.band_id = s.band_id AND b.band_key = s.band_key
),
edges AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM kept a
  JOIN kept b ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id1 AS src, id2 AS dst FROM edges
  UNION ALL SELECT id2, id1 FROM edges
),
walk(doc, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.doc
),
cc AS (
  SELECT doc, min(label) AS cluster FROM walk GROUP BY doc
),
q AS (
  SELECT doc_id,
         0.4 * (len(list_distinct({_TOKENS})) / len({_TOKENS}))
           + 0.3 * least(1.0, len({_TOKENS}) / 64.0)
           + 0.3 * least(1.0, ({tx.sql_stopword_score(_TOKENS, 'en')}
                               / len({_TOKENS})) * 4.0) AS quality
  FROM documents
),
ranked AS (
  SELECT cc.cluster, cc.doc, q.quality,
         row_number() OVER (PARTITION BY cc.cluster
                            ORDER BY q.quality DESC, cc.doc)
           AS rn
  FROM cc JOIN q ON q.doc_id = cc.doc
)
SELECT cluster,
       CAST(max(CASE WHEN rn = 1 THEN doc END) AS BIGINT)
         AS canonical_doc,
       round(max(CASE WHEN rn = 1 THEN quality END), 9)
         AS canonical_quality,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(count(*) - 1 AS BIGINT) AS dropped
FROM ranked
GROUP BY cluster
""",
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection — the step that turns near-dup
    CLUSTERS into a dedup DECISION: within each connected component
    of the LSH pair graph keep the highest-QUALITY member (ties
    break on doc_id), drop the rest. This is how production corpora
    actually dedup: not 'keep the first', keep the best. Composition
    of three existing operators: LSH candidates -> connected
    components -> per-cluster arg-max by the text_quality_score
    formula (exact integer-ratio arithmetic, so the arg-max is
    deterministic on both engines). The oracle replays the whole
    chain, recursive-CTE components included. Plan: the arg-max is
    one row_number window over the (tiny) cluster-membership table;
    everything upstream is the already-bounded LSH/CC machinery."""
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select(
            "doc_id",
            dd.word_shingles("text").alias("sh"),
            tx.ws_tokens("text").alias("toks"),
        )
        .persist()
    )
    edges = dd.lsh_candidate_pairs(
        d.select("doc_id", "sh"), "doc_id", "sh"
    )
    labels = dd.connected_components(edges)
    n = F.size("toks")
    quality = (
        0.4 * (F.size(F.array_distinct("toks")) / n)
        + 0.3 * F.least(F.lit(1.0), n / F.lit(64.0))
        + 0.3
        * F.least(
            F.lit(1.0),
            (tx.stopword_score(F.col("toks"), "en").cast("bigint") / n)
            * 4.0,
        )
    )
    q = d.select("doc_id", quality.alias("quality"))
    member = labels.join(
        q, labels.vertex == q.doc_id
    ).select(
        F.col("label").alias("cluster"),
        F.col("vertex").alias("doc"),
        "quality",
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality").desc(), F.col("doc")
    )
    ranked = member.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc")))
        .cast("bigint")
        .alias("canonical_doc"),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("quality"))), 9
        ).alias("canonical_quality"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("dropped"),
    )


@register(
    "join_spatial_knn",
    oracle="""
WITH cust_pts AS (
  SELECT c_custkey AS id,
         (('0x' || substr(md5('x' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS x,
         (('0x' || substr(md5('y' || c_custkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS y
  FROM customer WHERE c_custkey < 500
),
supp_pts AS (
  SELECT s_suppkey AS id,
         (('0x' || substr(md5('x' || s_suppkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS x,
         (('0x' || substr(md5('y' || s_suppkey::VARCHAR), 1, 6))::BIGINT
          % 10000) / 100.0 AS y
  FROM supplier
),
cand AS (
  SELECT c.id AS cust_id, s.id AS supp_id,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
  FROM cust_pts c
  JOIN supp_pts s
    ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) < 4.0
),
ranked AS (
  SELECT cust_id, supp_id, d2,
         row_number() OVER (PARTITION BY cust_id
                            ORDER BY d2, supp_id) AS rn
  FROM cand
)
SELECT cust_id, supp_id, round(sqrt(d2), 6) AS dist,
       CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3
""",
)
def join_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded K-NEAREST-NEIGHBOR spatial join — for every probe
    point, the k=3 nearest build points WITHIN radius r (the
    distance-cutoff KNN every geo engine ships; the reference's
    users run it as an ST_Distance theta-join + row_number — NLJ
    there, grid-bucketed here). Exactly join_spatial_radius's
    lossless 3x3 cell machinery producing the within-r candidates,
    then ONE window pass ranks them by exact squared distance
    (ties on the id) and keeps k per probe. The cutoff is what makes
    the distributed form exact: every within-r pair shares a cell
    neighborhood, so the k-nearest-within-r set is complete by
    construction — unbounded KNN would need expanding-ring probes.
    Scale: candidates are O(density) per probe and the rank window
    partitions on the probe id — InferWindowGroupLimit pre-prunes to
    k per partition before the shuffle."""
    from pyspark.sql import Window

    r = 2.0

    def pts(df, key_col):
        def coord(axis):
            h = F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(axis), F.col(key_col).cast("string")
                        )
                    ),
                    1, 6,
                ), 16, 10,
            ).cast("bigint")
            return (h % 10000) / F.lit(100.0)

        return df.select(
            F.col(key_col).alias("id"),
            coord("x").alias("x"),
            coord("y").alias("y"),
        )

    cust = pts(
        load_table(spark, sf_dir, "customer").filter(
            F.col("c_custkey") < 500
        ),
        "c_custkey",
    )
    supp = pts(load_table(spark, sf_dir, "supplier"), "s_suppkey")
    supp_cells = supp.select(
        F.col("id").alias("supp_id"),
        F.col("x").alias("sx"),
        F.col("y").alias("sy"),
        F.floor(F.col("x") / r).alias("cx"),
        F.floor(F.col("y") / r).alias("cy"),
    )
    neighbors = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    cust_cells = (
        cust.select("id", "x", "y", neighbors.alias("n"))
        .select(
            F.col("id").alias("cust_id"), "x", "y",
            (F.floor(F.col("x") / r) + F.col("n.dx")).alias("cx"),
            (F.floor(F.col("y") / r) + F.col("n.dy")).alias("cy"),
        )
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    cand = (
        cust_cells.join(supp_cells, ["cx", "cy"])
        .filter(d2 < r * r)
        .select("cust_id", "supp_id", d2.alias("d2"))
    )
    w = Window.partitionBy("cust_id").orderBy("d2", "supp_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "cust_id", "supp_id",
            F.round(F.sqrt("d2"), 6).alias("dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# mergeable geometry aggregates at scale (r12 verdict #1)


@register(
    "sql_geometry_union_agg_scale",
    oracle="""
WITH pts AS (
  SELECT DISTINCT c_nationkey AS nationkey, c_custkey % 120 AS k
  FROM customer
), brk AS (
  SELECT nationkey, k,
         CASE WHEN k - lag(k) OVER (PARTITION BY nationkey ORDER BY k)
                   >= 3 THEN 1 ELSE 0 END AS new_island
  FROM pts
), isl AS (
  SELECT nationkey, k,
         sum(new_island) OVER (PARTITION BY nationkey ORDER BY k)
           AS island
  FROM brk
), spans AS (
  SELECT nationkey, island,
         0.5 * min(k) AS s, 0.5 * max(k) + 1.0 AS e
  FROM isl GROUP BY nationkey, island
)
SELECT nationkey,
       count(*) AS parts,
       CAST(round(sum(e - s), 6) AS DOUBLE) AS area,
       CAST(min(s) AS DOUBLE) AS xmin,
       CAST(max(e) AS DOUBLE) AS xmax
FROM spans
GROUP BY nationkey
""",
)
def sql_geometry_union_agg_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """geometry_union_agg as the MERGEABLE two-phase aggregate
    (operators/geo_agg.py — the reference's GeometryUnionAgg.java
    accumulator design: per-batch partial unions below the exchange,
    per-key merge above it; the collect_list lowering in
    sql/scalar_templates.py remains the convenience path for ad-hoc
    SQL, this operator is the 100 TB path).

    Data: one unit-height square per customer at x = 0.5*(c_custkey
    % 120) — an interval-union problem in disguise. Squares at
    adjacent k overlap, at k+2 share an edge (the overlay dissolves
    it), and a k-gap >= 3 opens a new island, so DuckDB can compute
    the union's part count / area / bounds in closed form with
    gaps-and-islands SQL while Spark computes them geometrically
    from the folded WKT. Plan shape pinned in
    tests/test_plans.py::test_geometry_union_agg_partials_below_shuffle."""
    from presto_0_235_spark.operators import geo_agg
    from presto_0_235_spark.sql.frontend import _ensure_sql_udfs

    _ensure_sql_udfs(spark)
    # spread the single-row-group fixture scan: the partial folds are
    # CPU-bound exact-rational overlays, and one input split would
    # serialize them on one core (no-op on a real multi-split scan)
    cust = spread_scan(load_table(spark, sf_dir, "customer"))
    x0 = (F.col("c_custkey") % 120).cast("double") * 0.5
    squares = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.concat(
            F.lit("POLYGON (("),
            x0.cast("string"), F.lit(" 0, "),
            (x0 + 1.0).cast("string"), F.lit(" 0, "),
            (x0 + 1.0).cast("string"), F.lit(" 1, "),
            x0.cast("string"), F.lit(" 1, "),
            x0.cast("string"), F.lit(" 0))"),
        ).alias("g"),
    )
    unions = geo_agg.geometry_union_agg(squares, ["nationkey"], "g")
    return unions.select(
        "nationkey",
        F.expr("CAST(st_numgeometries(union_geom) AS BIGINT)")
        .alias("parts"),
        F.round(F.expr("st_area(union_geom)"), 6).alias("area"),
        F.expr("st_xmin(union_geom)").alias("xmin"),
        F.expr("st_xmax(union_geom)").alias("xmax"),
    )


@register(
    "sql_convex_hull_agg_scale",
    oracle="""
WITH pts AS (
  SELECT DISTINCT c_nationkey AS nationkey, c_custkey % 120 AS k
  FROM customer
), xy AS (
  SELECT nationkey, CAST(k AS DOUBLE) AS x,
         CAST(k * k AS DOUBLE) AS y
  FROM pts
), ring AS (
  SELECT nationkey, x, y,
         lead(x) OVER w AS nx, lead(y) OVER w AS ny,
         first_value(x) OVER w AS fx, first_value(y) OVER w AS fy
  FROM xy
  WINDOW w AS (PARTITION BY nationkey ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING)
)
SELECT nationkey,
       count(*) + 1 AS npoints,
       round(abs(sum(x * coalesce(ny, fy) - coalesce(nx, fx) * y))
             / 2, 6) AS area,
       min(x) AS xmin,
       max(x) AS xmax
FROM ring
GROUP BY nationkey
""",
)
def sql_convex_hull_agg_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """convex_hull_agg as the mergeable two-phase aggregate
    (GeometryConvexHullAgg.java design: hull(all) ==
    hull(partial hulls) — per-batch hulls below the exchange are
    hull-sized, not batch-sized).

    Data: one point per distinct (nation, k) at (k, k^2) — strictly
    convex position, so EVERY point is a hull vertex and DuckDB can
    compute the hull ring's vertex count (distinct k + closing
    point), shoelace area, and bounds in closed form while Spark
    reads them off the folded hull polygon."""
    from presto_0_235_spark.operators import geo_agg
    from presto_0_235_spark.sql.frontend import _ensure_sql_udfs

    _ensure_sql_udfs(spark)
    cust = spread_scan(load_table(spark, sf_dir, "customer"))
    k = (F.col("c_custkey") % 120).cast("double")
    points = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.concat(
            F.lit("POINT ("), k.cast("string"), F.lit(" "),
            (k * k).cast("string"), F.lit(")"),
        ).alias("g"),
    )
    hulls = geo_agg.convex_hull_agg(points, ["nationkey"], "g")
    return hulls.select(
        "nationkey",
        F.expr("st_numpoints(hull_geom)").alias("npoints"),
        F.round(F.expr("st_area(hull_geom)"), 6).alias("area"),
        F.expr("st_xmin(hull_geom)").alias("xmin"),
        F.expr("st_xmax(hull_geom)").alias("xmax"),
    )
