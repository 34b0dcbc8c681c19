"""LLM-training-data operators: dedup family, similarity search,
text analysis, multimodal plumbing (documents/embeddings tables).
Exports the shared oracle fragments (_jaccard_pairs_sql, _WORDS_SQL,
_sw_list, _COSINE_SQL, _simhash_sql)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_data_pipeline_spark.functions import money_sum, money_sum_sql
from ecommerce_data_pipeline_spark.operators import curate as cu
from ecommerce_data_pipeline_spark.operators import dedup as dd
from ecommerce_data_pipeline_spark.operators import similarity as sim
from ecommerce_data_pipeline_spark.operators import text as tx
from ecommerce_data_pipeline_spark.operators import windows as win
from ecommerce_data_pipeline_spark.operators.dedup import kafka_identity_dedup
from ecommerce_data_pipeline_spark.operators.enrich import enrich_orders
from ecommerce_data_pipeline_spark.operators.fact import sales_minute_agg
from ecommerce_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media_features,
)
from ecommerce_data_pipeline_spark.operators.parse import (
    bronze_projection,
    parse_orders,
    parse_payments,
)
from ecommerce_data_pipeline_spark.operators.service import (
    cart_totals,
    inventory_counters,
)
from ecommerce_data_pipeline_spark.sources.events import orders_events, payments_events
from ecommerce_data_pipeline_spark.sources.parquet import load_table, register_views

from ecommerce_data_pipeline_spark.queries._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    register,
)
from ecommerce_data_pipeline_spark.queries.medallion import md5_long_sql


# ---------------------------------------------------------------------------
# LLM-training-data operators: dedup family (documents table)
# ---------------------------------------------------------------------------

# DuckDB twin of operators.dedup.char_shingles + exact pairwise Jaccard.
def _jaccard_pairs_sql(k: int = 12, threshold: float = 0.5) -> str:
    return f"""
sh AS (
  SELECT doc_id, unnest(list_distinct([substr(lower(text), i, {k})
    for i in generate_series(1, greatest(length(text)-{k - 1}, 1))])) AS shingle
  FROM documents
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_id_a, doc_id_b,
         round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
  FROM inter
  JOIN cnt ca ON ca.doc_id = doc_id_a
  JOIN cnt cb ON cb.doc_id = doc_id_b
  WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= {threshold}
)
"""


@register(
    "exact_dedup",
    oracle="""
SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-partitioned groupBy on the content digest."""
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    # Oracle = exact all-pairs char-10-gram Jaccard at 0.6. The registry
    # query generates candidates with LSH banding (the 100 TB plan) and
    # exact-verifies them; precision is therefore exact and only recall is
    # probabilistic. The registered entry runs a HARDENED 64x4-band scheme
    # (256 minhashes): miss probability for a pair exactly at j=0.6 is
    # (1-0.6^4)^64 ~= 1.4e-4 (vs ~1.2e-2 at the 32x4 default), and ~3e-8
    # by j=0.7 — so oracle equality no longer leans on the fixture's
    # bimodal similarity gap the way the 32-band default did. Rows-per-band
    # stays 4, so background-candidate rates (and bucket sizes at 100 TB)
    # are unchanged; shuffle width is 2x band rows, still fixed-width.
    # If the driver testdata ever changes, re-run test_lsh_recall_on_corpus.
    oracle=(
        f"WITH {_jaccard_pairs_sql(k=10, threshold=0.6)} "
        "SELECT doc_id_a, doc_id_b, jaccard FROM jac"
    ),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-10-gram Jaccard near-dup pairs at 0.6: LSH candidates, exact
    verify — the scale-safe composition, not the quadratic all-pairs form
    (that form survives as candidates="prefix", used as the test oracle).
    64x4 banding hardens the oracle-equality soft band; see register()."""
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.6,
        k=10,
        n_hashes=256,
        n_bands=64,
    )


@register(
    "text_minhash_topk_join",
    # The "related documents" JOIN surface: per doc, its top-3 near-dup
    # neighbors at Jaccard >= 0.6, ranked — the per-entity form of the
    # pair list (what a dedup-review UI or canonical-doc chooser reads).
    # Same hardened 64x4 LSH candidates ∘ exact verify as
    # ngram_jaccard_pairs, then the pair set is mirrored (each pair feeds
    # both endpoints' neighbor lists) and window-ranked per doc — the
    # mirror is a projection+union, no second similarity pass.
    #
    # RANK-SHIFT AMPLIFICATION (why this query's LSH-recall exposure is
    # bigger than the pair list's): one missed candidate pair doesn't
    # just drop two output rows — it shifts the window ranks of every
    # lower-ranked neighbor for BOTH endpoint docs, so a single band
    # miss can flip several rows against the exact all-pairs oracle.
    # tests/test_operators.py::test_lsh_recall_on_corpus is therefore
    # MANDATORY before accepting any regenerated documents fixture: it
    # proves 64x4 banding recovers 100% of >=0.6 pairs on the corpus.
    oracle=(
        f"WITH {_jaccard_pairs_sql(k=10, threshold=0.6)}, "
        """
m AS (
  SELECT doc_id_a AS doc_id, doc_id_b AS neighbor_id, jaccard FROM jac
  UNION ALL
  SELECT doc_id_b AS doc_id, doc_id_a AS neighbor_id, jaccard FROM jac
),
r AS (
  SELECT doc_id, neighbor_id, jaccard,
    CAST(row_number() OVER (PARTITION BY doc_id
         ORDER BY jaccard DESC, neighbor_id) AS INTEGER) AS rank
  FROM m
)
SELECT doc_id, neighbor_id, jaccard, rank FROM r WHERE rank <= 3
"""
    ),
)
def q_text_minhash_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 near-dup neighbors (Jaccard >= 0.6): LSH-candidate ∘
    exact-verify pairs mirrored to both endpoints, then one window rank
    per doc. Cost = ngram_jaccard_pairs + a union + one small shuffle of
    the (already tiny) verified pair set."""
    pairs = dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.6,
        k=10,
        n_hashes=256,
        n_bands=64,
    )
    # Mirror each pair to both endpoints with ONE explode over one pass of
    # the pair set — the union-of-two-projections form planned the whole
    # LSH candidate+verify subtree once per branch (localCheckpoint inside
    # _minhash_profile shares the profile, but the bucket join and the
    # verification joins re-executed twice).
    m = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id_a").alias("doc_id"),
                    F.col("doc_id_b").alias("neighbor_id"),
                    F.col("jaccard").alias("jaccard"),
                ),
                F.struct(
                    F.col("doc_id_b").alias("doc_id"),
                    F.col("doc_id_a").alias("neighbor_id"),
                    F.col("jaccard").alias("jaccard"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.neighbor_id", "e.jaccard")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id")
    )
    return m.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3
    )


@register(
    "minhash_lsh_pairs",
    # Oracle = exact Jaccard at the same threshold: the corpus similarity
    # distribution is bimodal (near-dups >=0.9, background <0.2), where
    # 32x4-band LSH recall is 1-5e-15 — LSH + exact verification therefore
    # equals the exact answer. Deliberately NOT an oracle that re-implements
    # LSH: this checks the algorithm's contract, not its internals.
    oracle=f"WITH {_jaccard_pairs_sql()} SELECT doc_id_a, doc_id_b, jaccard FROM jac",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128)+LSH(32x4) candidate pairs, exact-verified at 0.5."""
    return dd.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "shingle_novelty_curve",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct([substr(lower(text), i, 12)
    for i in generate_series(1, greatest(length(text)-11, 1))])) AS shingle
  FROM documents
),
hashed AS (SELECT doc_id, {md5_long_sql("shingle")} AS h FROM sh),
owners AS (SELECT h, min(doc_id) AS owner_doc FROM hashed GROUP BY 1),
occ AS (
  SELECT d.source, count(*) AS shingle_occurrences
  FROM hashed s JOIN documents d USING (doc_id) GROUP BY 1
),
novel AS (
  SELECT d.source, count(*) AS novel_shingles
  FROM owners o JOIN documents d ON d.doc_id = o.owner_doc GROUP BY 1
)
SELECT occ.source, shingle_occurrences,
  COALESCE(novel_shingles, 0) AS novel_shingles,
  round(COALESCE(novel_shingles, 0) * 1.0 / shingle_occurrences, 4)
    AS novelty_rate
FROM occ LEFT JOIN novel ON novel.source = occ.source
""",
)
def q_shingle_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle novelty: a 12-char shingle is NOVEL if this
    source's doc is its global first owner (min doc_id across the corpus)
    — the redundancy lens crawl pipelines use to decide which sources
    still contribute new content vs re-crawled boilerplate (the corpus-
    level cousin of Lee et al. 2022's dedup-fraction measurements).

    Plan: shingles explode ONCE, only on the owner branch, and are
    md5-hashed to int64 immediately (``_exploded_shingle_hashes``), so the
    min-owner shuffle moves fixed-width longs regardless of document size
    — the same scale discipline as the MinHash signature step. The
    occurrence count never explodes at all: per-doc distinct-shingle count
    is ``size(char_shingles(text))`` (char_shingles is array_distinct),
    summed per source in one scan-side agg. The owner table is one row per
    DISTINCT shingle; its join back to the doc→source map is an equi-join
    Spark can shuffle-hash. Hash collisions (~n²/2^60) fold identical
    shingles together on BOTH engines (oracle replays the same md5-long),
    so equality is exact.
    Output: (source, shingle_occurrences, novel_shingles, novelty_rate)."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    # Pin the exploded shingle hashes: owners AND occurrence counts both
    # read this one frame, so the corpus is scanned and shingled ONCE (the
    # size(char_shingles(...)) occurrence branch re-ran the CPU-bound
    # shingling over a second full scan). Per-doc exploded row count ==
    # size(char_shingles(text)) in every case — char_shingles is
    # array_distinct'd, and the NULL/empty-text degenerate both yield one
    # row either way — so the sums are identical.
    hashed = dd._exploded_shingle_hashes(docs, 12, "text", "doc_id").localCheckpoint(
        eager=False
    )
    owners = hashed.groupBy("h").agg(F.min("doc_id").alias("owner_doc"))
    occ = (
        hashed.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .join(src, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_shingles").alias("shingle_occurrences"))
    )
    novel = (
        owners.join(
            src.select(F.col("doc_id").alias("owner_doc"), "source"), "owner_doc"
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("novel_shingles"))
    )
    return occ.join(novel, "source", "left").select(
        "source",
        "shingle_occurrences",
        F.coalesce("novel_shingles", F.lit(0)).alias("novel_shingles"),
        F.round(
            F.coalesce("novel_shingles", F.lit(0))
            / F.col("shingle_occurrences"),
            4,
        ).alias("novelty_rate"),
    )


# DuckDB twin of operators.dedup.simhash: identical md5-derived 60-bit
# hashes, per-bit majority votes, 63-bit signature.
def _simhash_sql(k: int = 12, bits: int = 64) -> str:
    mdl = md5_long_sql("shingle")
    votes = ", ".join(f"sum((h >> {b}) & 1) AS v{b}" for b in range(bits - 1))
    terms = " + ".join(
        f"CASE WHEN 2*v{b} > n THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits - 1)
    )
    return f"""
sh AS (
  SELECT doc_id, unnest(list_distinct([substr(lower(text), i, {k})
    for i in generate_series(1, greatest(length(text)-{k - 1}, 1))])) AS shingle
  FROM documents
),
hashed AS (SELECT doc_id, {mdl} AS h FROM sh),
votes AS (SELECT doc_id, count(*) AS n, {votes} FROM hashed GROUP BY 1),
sim AS (SELECT doc_id, {terms} AS simhash FROM votes)
"""


@register(
    "simhash",
    oracle=f"WITH {_simhash_sql()} SELECT doc_id, simhash FROM sim",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash signatures (majority vote over shingle-hash bits)."""
    return dd.simhash(load_table(spark, sf_dir, "documents"))


@register(
    "simhash_pairs",
    oracle=f"""
WITH {_simhash_sql()}
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Hamming <= 3, 16-bit-band blocked. The
    oracle is the quadratic filter; band blocking is exact by pigeonhole."""
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LLM-training-data operators: similarity search (embeddings table)
# ---------------------------------------------------------------------------

_COSINE_SQL = """
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 50 = 0),
v AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv,
             label FROM embeddings),
"""


@register(
    "cosine_topk",
    oracle=f"""
WITH {_COSINE_SQL}
scored AS (
  SELECT query_id, neighbor_id,
    round(list_inner_product(qv, nv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))), 4)
      AS cosine_sim
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for every 50th vector as query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.cosine_topk(emb, queries_df, k=5)


@register(
    "ivf_topk",
    oracle=f"""
WITH {_COSINE_SQL}
qc AS (SELECT q.query_id, q.qv, e.label AS cell
       FROM q JOIN embeddings e ON e.vec_id = q.query_id),
scored AS (
  SELECT query_id, neighbor_id,
    round(list_inner_product(qv, nv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))), 4)
      AS cosine_sim
  FROM qc JOIN v ON v.label = qc.cell AND v.neighbor_id <> qc.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 3
""",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: prune to the query's cell (label = coarse-quantizer
    stand-in), then exact top-3 inside the cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.ivf_topk(emb, queries_df, k=3)


# ---------------------------------------------------------------------------
# LLM-training-data operators: text analysis (documents table)
# ---------------------------------------------------------------------------

_WORDS_SQL = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '), "
    "w -> w <> '')"
)


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang]) + "]"


@register(
    "language_id",
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
r AS (
  SELECT doc_id, CAST(len(words) AS INTEGER) AS n_tokens,
    {", ".join(
        f"round(len(list_filter(words, t -> list_contains({_sw_list(lang)}, t)))*1.0"
        f" / greatest(len(words), 1), 4) AS r_{lang}"
        for lang in tx.STOPWORDS
    )}
  FROM w
)
SELECT doc_id, n_tokens, r_en AS en_ratio,
  CASE WHEN greatest(r_en, r_es, r_fr, r_de) <= 0 THEN 'und'
       {" ".join(
           f"WHEN r_{lang} = greatest(r_en, r_es, r_fr, r_de) THEN '{lang}'"
           for lang in tx.STOPWORDS
       )}
  END AS predicted_lang
FROM r
""",
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID over documents."""
    return tx.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "quality_score",
    oracle=f"""
WITH w AS (
  SELECT doc_id, text, {_WORDS_SQL} AS words,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS INTEGER) AS alpha_chars
  FROM documents
),
f AS (
  SELECT doc_id, n_chars, CAST(len(words) AS INTEGER) AS n_tokens,
    round(coalesce(list_sum(list_transform(words, t -> length(t))), 0) * 1.0
          / greatest(len(words), 1), 4) AS mean_token_len,
    round(alpha_chars * 1.0 / greatest(n_chars, 1), 4) AS alpha_ratio,
    round(len(list_filter(words, t -> list_contains({_sw_list("en")}, t))) * 1.0
          / greatest(len(words), 1), 4) AS stopword_ratio
  FROM w
)
SELECT doc_id, n_chars, n_tokens, mean_token_len, alpha_ratio, stopword_ratio,
  round(
    (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN alpha_ratio >= 0.8 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
FROM f
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-shaped quality features + composite score."""
    return tx.quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "token_stats",
    oracle="""
SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_ish_tokens,
  CAST(len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS INTEGER) AS distinct_tokens
FROM documents
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    return tx.token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "fingerprint",
    oracle="""
SELECT doc_id, md5(lower(text)) AS content_md5,
  list_aggregate([md5(substr(lower(text), i, 16))
    for i in generate_series(1, greatest(length(text)-15, 1))], 'min') AS min_shingle_md5
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content md5 + winnowing-style min-shingle-hash fingerprint."""
    return tx.fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LLM-training-data operators: multimodal plumbing (documents as payloads)
# ---------------------------------------------------------------------------


@register(
    "decode_media_features",
    oracle="""
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  'fake' AS format,
  CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
  CAST(octet_length(encode(text)) % 480 AS INTEGER) AS height,
  CAST((coalesce(ascii(substr(text, 1, 1)), 0) * 31 + octet_length(encode(text)))
       % 1000003 AS BIGINT) AS checksum_mod
FROM documents
""",
)
def q_decode_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one honest Pandas path: binary payloads through an Arrow-batched
    mapInPandas decode kernel (deterministic stub — codecs not bundled).
    The oracle replicates the stub's arithmetic; text is ASCII so the first
    utf-8 byte equals ascii(first char)."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media_features(attach_binary_payload(docs))


@register(
    "knn_label_accuracy",
    # kNN probe of embedding quality: 5-NN majority label per held-out
    # query (vec_id % 50 — the same eval split every retrieval query
    # uses), ranks on the ROUNDED cosine with neighbor-id tie-break so
    # both engines rank identically; majority ties break to the smallest
    # label.
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         label AS true_label
  FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv, label
  FROM embeddings WHERE vec_id % 50 <> 0
),
scored AS (
  SELECT query_id, true_label, neighbor_id, label,
    round(list_inner_product(qv, nv)
          / (sqrt(list_inner_product(qv, qv))
             * sqrt(list_inner_product(nv, nv))), 4) AS cs
  FROM q, c
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
  FROM scored
),
votes AS (
  SELECT query_id, true_label, label, count(*) AS v
  FROM ranked WHERE rk <= 5 GROUP BY 1, 2, 3
),
pred AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY v DESC, label) AS pr
  FROM votes
)
SELECT query_id, true_label, label AS predicted_label,
  true_label = label AS correct
FROM pred WHERE pr = 1
""",
)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval harness: 5-NN majority-vote label recovery
    for the held-out query split — the standard kNN probe that turns a
    retrieval stack into a measurable classifier. Reuses the exact
    cosine_topk plan (WindowGroupLimit local top-k) + one vote window.

    100x SCALE POLICY (SCALE.md §10): this exact query-x-corpus scan is
    the eval harness for a BOUNDED probe set — the query side must stay a
    fixed-size sample (cap it: ``.orderBy(hash).limit(Q)`` or a modulus
    chosen so |Q| stays ~1e3-1e4), never a constant fraction of the
    corpus; with both sides growing the scan is quadratic. Past that, keep
    the same vote/report shape but route candidate generation through the
    IVF path — that variant is knn_label_accuracy_ivf below, identical
    output at nprobe=all, ~nprobe/k of the scoring work in production."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    nb = sim.cosine_topk(corpus, queries_df, k=5)
    return _knn_vote(nb, corpus, queries_df)


def _knn_vote(nb: DataFrame, corpus: DataFrame, queries_df: DataFrame) -> DataFrame:
    """Shared 5-NN majority-vote scaffold: neighbors (any candidate
    generator) -> label votes -> deterministic argmax (votes desc, then
    smallest label) -> per-query correctness row."""
    votes = (
        nb.join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("v").desc(), F.col("nl"))
    pred = votes.withColumn("pr", F.row_number().over(w)).filter(F.col("pr") == 1)
    truth = queries_df.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        "true_label",
        F.col("nl").alias("predicted_label"),
        (F.col("true_label") == F.col("nl")).alias("correct"),
    )


def _register_knn_ivf() -> None:
    # Deferred so the IVF variant can share knn_label_accuracy's oracle
    # text verbatim: at nprobe = all cells the IVF route scores exactly
    # the same candidate set as brute force, so the exact-kNN oracle IS
    # the correct contract. Production sets nprobe < n_cells for
    # ~nprobe/n_cells of the scoring work at measured recall
    # (ann_recall_report quantifies that trade on this corpus).
    from ecommerce_data_pipeline_spark.queries._registry import ORACLES

    @register("knn_label_accuracy_ivf", oracle=ORACLES["knn_label_accuracy"])
    def q_knn_label_accuracy_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The 100x form of the kNN label probe (SCALE.md §10): candidate
        generation routed through the IVF path — deterministic k-means
        coarse quantizer (8 cells, 3 Lloyd iterations; driver holds only
        the k centroids) + multi-probe cell-bucketed scoring — then the
        same 5-NN majority vote. nprobe=8/8 here so the result equals
        exact brute force and the oracle stays deterministic; drop nprobe
        at scale."""
        from ecommerce_data_pipeline_spark.operators.quantize import (
            kmeans_fit,
            multiprobe_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        corpus = emb.filter(F.col("vec_id") % 50 != 0)
        centroids = kmeans_fit(corpus, k=8, iters=3)
        nb = multiprobe_topk(corpus, queries_df, centroids, k=5, nprobe=8)
        return _knn_vote(nb, corpus, queries_df)


_register_knn_ivf()


@register(
    "pmi_top_pairs",
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
big AS (
  SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
  FROM w WHERE len(ws) >= 2
),
c12 AS (SELECT w1, w2, count(*) AS pair_count FROM big GROUP BY 1, 2),
n12 AS (SELECT CAST(sum(pair_count) AS BIGINT) AS n12 FROM c12),
unic AS (SELECT t, count(*) AS c FROM (SELECT unnest(ws) AS t FROM w) GROUP BY 1),
n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM unic)
SELECT w1, w2, pair_count,
  round(ln((pair_count * 1.0 / n12.n12)
           / ((u1.c * 1.0 / n1.n1) * (u2.c * 1.0 / n1.n1))), 4) AS pmi
FROM c12 JOIN unic u1 ON u1.t = w1 JOIN unic u2 ON u2.t = w2
CROSS JOIN n12 CROSS JOIN n1
WHERE pair_count >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 50
""",
)
def q_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by PMI (min pair count 5) — the
    phrase-mining / tokenizer-merge-candidate pass. TakeOrdered top-k,
    not a global sort."""
    return tx.pmi_top_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "matryoshka_audit",
    # list_inner_product(v,v) and the Spark left-fold sum squares add in
    # the SAME element order, so the doubles are bit-identical pre-round.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
  CAST(len(v) AS INTEGER) AS n_dims,
  round(CASE WHEN list_inner_product(v, v) = 0 THEN 1.0
        ELSE list_inner_product(v[1:16], v[1:16]) / list_inner_product(v, v)
        END, 4) AS retained_16,
  round(CASE WHEN list_inner_product(v, v) = 0 THEN 1.0
        ELSE list_inner_product(v[1:32], v[1:32]) / list_inner_product(v, v)
        END, 4) AS retained_32
FROM e
""",
)
def q_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: per-vector retained-energy ratio at
    16 and 32 dims — the map-only go/no-go signal for serving truncated
    embeddings (linear ANN cost savings)."""
    from ecommerce_data_pipeline_spark.operators.quantize import matryoshka_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_audit(emb, dims=(16, 32))


@register(
    "dedup_rate_by_source",
    # Composition metric: exact_dedup's content-hash groups rolled up per
    # source — the per-crawl duplication dashboard of a curation pipeline.
    # NULL text is coalesced to '' on BOTH sides: Spark's window keeps a
    # null-hash group while a raw md5(text) join key would drop those rows
    # from the oracle — parity must not depend on the fixture containing
    # no null text.
    oracle="""
WITH g AS (
  SELECT md5(coalesce(text, '')) AS h, min(doc_id) AS keeper, count(*) AS n
  FROM documents GROUP BY 1
)
SELECT d.source,
  count(*) AS n_docs,
  count(DISTINCT g.h) AS n_unique,
  CAST(sum(CASE WHEN d.doc_id <> g.keeper THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped,
  round(sum(CASE WHEN d.doc_id <> g.keeper THEN 1 ELSE 0 END) * 1.0
        / count(*), 4) AS drop_rate
FROM documents d JOIN g ON md5(coalesce(d.text, '')) = g.h
GROUP BY d.source
""",
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication dashboard: each source's doc count,
    distinct contents, and the fraction exact dedup would drop (non-keeper
    copies). The keeper is a min-over-window on the content digest — ONE
    shuffle of (doc_id, digest, source) rows, vs the groupBy+join-back
    formulation that re-shuffled the same rows a second time keyed on the
    32-char digest."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    return (
        docs.select(
            "doc_id",
            "source",
            F.md5(F.coalesce("text", F.lit(""))).alias("content_hash"),
        )
        .withColumn("keeper", F.min("doc_id").over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("content_hash").alias("n_unique"),
            F.sum(
                F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
            ).alias("n_dropped"),
            F.round(
                F.sum(
                    F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
                )
                / F.count(F.lit(1)),
                4,
            ).alias("drop_rate"),
        )
    )


@register(
    "media_image_decode",
    # The payloads are REAL PGM/BMP bytes (operators/codecs.py) synthesized
    # from the generative formula pixel[i,j] = (doc_id*31+i*7+j*13) % 256,
    # side = 8 + doc_id % 9. The oracle recomputes every decoded feature in
    # closed form from that formula — encoder bugs, parser bugs (BMP's
    # bottom-up raster, row padding, PGM header whitespace) and Arrow
    # plumbing bugs all break the equality. thumb pixel (i,j) samples
    # source ((i*side)//4, (j*side)//4), weighted 1 + i*4 + j.
    oracle="""
WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS side FROM documents)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'pgm' ELSE 'bmp' END AS format,
  CAST(side AS INTEGER) AS width,
  CAST(side AS INTEGER) AS height,
  CAST(list_aggregate(
    [(doc_id*31 + (p//side)*7 + (p%side)*13) % 256
     for p in generate_series(0, side*side - 1)], 'sum') AS BIGINT)
    AS pixel_sum,
  CAST(list_aggregate(
    [((doc_id*31 + (((t//4)*side)//4)*7 + (((t%4)*side)//4)*13) % 256) * (1+t)
     for t in generate_series(0, 15)], 'sum') AS BIGINT)
    AS thumb_checksum
FROM g
""",
)
def q_media_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode path: synthesize genuine PGM/BMP bytes per doc,
    parse them with the dependency-free format decoders inside an
    Arrow-batched mapInPandas stage, emit integer-exact decoded features
    (dims, pixel sum, 4x4 nearest-neighbor thumb checksum)."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        decode_image_features,
        synth_image_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_features(synth_image_corpus(docs))


@register(
    "image_phash_dedup",
    # Perceptual image dedup: aHash over the REAL decoded pixels (PGM/BMP
    # parsers), then the shared 4x16-bit banded-Hamming blocking
    # (operators/dedup.banded_hamming_pairs — same scaffold as SimHash).
    # max_hamming=2 <= 3 keeps the banding pigeonhole-LOSSLESS, so the
    # quadratic oracle equals the bucketed plan exactly — no S-curve soft
    # band. Oracle recomputes the hash in closed form from the generative
    # pixel formula (pixel=(d*31+i*7+j*13)%256, side=8+d%9; nearest 8x8
    # grid samples (i*side)//8): any parser, raster-orientation, sampling
    # or bit-packing bug shifts hashes and breaks the pair set. The
    # fixture's images are all brightness-shifted/rescaled variants of one
    # gradient family, so the pair set is dense — an honest property of
    # the corpus, not of the operator; buckets stay bounded because the
    # shuffle is keyed on (band, bucket), never all-pairs.
    oracle="""
WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS side FROM documents),
px AS (
  SELECT doc_id,
    [ (doc_id*31 + (((i // 8) * side) // 8) * 7
       + (((i % 8) * side) // 8) * 13) % 256
      for i in generate_series(0, 63) ] AS p
  FROM g
),
h AS (
  SELECT doc_id,
    CAST(list_sum([ CASE WHEN p[i+1] * 64 > list_sum(p)
                    THEN (1::BIGINT << i) ELSE 0 END
      for i in generate_series(0, 62) ]) AS BIGINT) AS ahash
  FROM px
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
""",
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: real PGM/BMP decode →
    integer-exact 8x8 average-hash (operators/multimodal.image_ahash) →
    banded Hamming blocking at distance <= 2 (lossless by pigeonhole).
    Connects the codec tier to the dedup tier: the hash is computed from
    decoded pixels, not payload bytes, so re-encoded copies dedup."""
    from ecommerce_data_pipeline_spark.operators import dedup as _dd
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        image_ahash,
        synth_image_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = image_ahash(synth_image_corpus(docs))
    return _dd.banded_hamming_pairs(sig, "ahash", max_hamming=2)


@register(
    "audio_fingerprint_dedup",
    # Audio twin of image_phash_dedup: energy-contour fingerprint from the
    # REAL WAV decode (64 frames, bit i = energy rises i→i+1), banded
    # Hamming pairs at <= 3 (pigeonhole-lossless). Oracle replays the
    # fingerprint in closed form from the generative sample formula
    # s[t] = (d*13 + t*7919) % 65536 - 32768, n = 400 + (d%64)*8 — the
    # RIFF parser, frame split and integer energy sums are all on the
    # hook. Squares via x*x (DuckDB ** returns DOUBLE; sums must stay
    # integer-exact).
    oracle="""
WITH g AS (SELECT doc_id, 400 + (doc_id % 64) * 8 AS n FROM documents),
smp AS (
  SELECT doc_id, n,
    [ (doc_id*13 + t*7919) % 65536 - 32768 for t in range(0, n) ] AS s
  FROM g
),
eng AS (
  SELECT doc_id,
    [ list_sum([ x*x for x in s[f*n//64 + 1 : (f+1)*n//64] ])
      for f in range(0, 64) ] AS e
  FROM smp
),
h AS (
  SELECT doc_id,
    CAST(list_sum([ CASE WHEN e[i+2] > e[i+1] THEN (1::BIGINT << i)
                    ELSE 0 END for i in range(0, 63) ]) AS BIGINT) AS afp
  FROM eng
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3
""",
)
def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs: real RIFF/PCM16 decode → integer-exact
    64-frame energy-contour fingerprint (operators/multimodal.
    audio_fingerprint) → shared banded Hamming blocking at distance <= 3.
    Completes the perceptual-dedup tier across modalities (text SimHash,
    image aHash, audio energy contour — one pair machinery)."""
    from ecommerce_data_pipeline_spark.operators import dedup as _dd
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint,
        synth_audio_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = audio_fingerprint(synth_audio_corpus(docs))
    return _dd.banded_hamming_pairs(sig, "afp", max_hamming=3)


@register(
    "media_audio_decode",
    # REAL RIFF/WAV round trip: s[t] = (doc_id*13 + t*7919) % 65536 - 32768,
    # n = 400 + (doc_id % 64)*8 samples @16kHz. Integer-exact features so
    # the comparison is bit-stable (sum of squares, not float RMS).
    oracle="""
WITH g AS (SELECT doc_id, 400 + (doc_id % 64) * 8 AS n FROM documents)
SELECT doc_id,
  16000 AS sample_rate,
  CAST(n AS INTEGER) AS n_samples,
  CAST(list_aggregate(
    [((doc_id*13 + t*7919) % 65536 - 32768) * ((doc_id*13 + t*7919) % 65536 - 32768)
     for t in generate_series(0, n - 1)], 'sum') AS BIGINT) AS sum_sq,
  CAST(list_aggregate(
    [abs((doc_id*13 + t*7919) % 65536 - 32768)
     for t in generate_series(0, n - 1)], 'max') AS INTEGER) AS max_abs
FROM g
""",
)
def q_media_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path: synthesize genuine mono PCM16 WAV bytes,
    parse them with the chunk-walking RIFF decoder in mapInPandas, emit
    integer-exact sample statistics."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        decode_audio_features,
        synth_audio_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_features(synth_audio_corpus(docs))


@register(
    "media_image_patches",
    # ViT patchify over the same generative PGM/BMP corpus as
    # media_image_decode: patch (pr,pc) covers source pixels
    # (pr*4+di, pc*4+dj), di,dj in 0..3; images crop to side//4*4 first.
    oracle="""
WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS side FROM documents),
pr AS (
  SELECT doc_id, side, unnest(generate_series(0, side//4 - 1)) AS patch_row
  FROM g
),
pc AS (
  SELECT doc_id, side, patch_row,
    unnest(generate_series(0, side//4 - 1)) AS patch_col
  FROM pr
)
SELECT doc_id,
  CAST(patch_row AS INTEGER) AS patch_row,
  CAST(patch_col AS INTEGER) AS patch_col,
  CAST(list_aggregate(
    [(doc_id*31 + (patch_row*4 + t//4)*7 + (patch_col*4 + t%4)*13) % 256
     for t in generate_series(0, 15)], 'sum') AS BIGINT) AS patch_sum
FROM pc
""",
)
def q_media_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction over real decoded PGM/BMP images: one
    decode per payload, 4x4 tile sums out, blobs never shuffle."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        image_patchify,
        synth_image_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_patchify(synth_image_corpus(docs))


@register(
    "media_audio_frames",
    # 10 ms (160-sample) frame energies over the generative WAV corpus;
    # tail partial frames drop, energies stay int64-exact.
    oracle="""
WITH g AS (SELECT doc_id, 400 + (doc_id % 64) * 8 AS n FROM documents),
f AS (
  SELECT doc_id, unnest(generate_series(0, n//160 - 1)) AS frame_idx FROM g
)
SELECT doc_id,
  CAST(frame_idx AS INTEGER) AS frame_idx,
  CAST(list_aggregate(
    [((doc_id*13 + (frame_idx*160+k)*7919) % 65536 - 32768)
     * ((doc_id*13 + (frame_idx*160+k)*7919) % 65536 - 32768)
     for k in generate_series(0, 159)], 'sum') AS BIGINT) AS frame_sum_sq
FROM f
""",
)
def q_media_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio energy over real decoded WAV payloads — the VAD /
    silence-trim front end, one decode per payload."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        audio_frame_energy,
        synth_audio_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_frame_energy(synth_audio_corpus(docs))


@register(
    "media_video_frame_sample",
    # REAL video tier: concatenated-PGM container (raw-MJPEG shape),
    # parsed frame-by-frame; every 2nd frame kept. frame_sum is the
    # closed-form sum of (d*31 + f*17 + i*7 + j*13) % 256 over the 8x8
    # grid — container parse bugs (frame boundaries, header walk) shift it.
    oracle="""
WITH g AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
f AS (
  SELECT doc_id, nf, unnest(generate_series(0, nf - 1, 2)) AS frame_idx
  FROM g
)
SELECT doc_id,
  CAST(nf AS INTEGER) AS n_frames,
  CAST(frame_idx AS INTEGER) AS frame_idx,
  CAST(list_aggregate(
    [(doc_id*31 + frame_idx*17 + (p//8)*7 + (p%8)*13) % 256
     for p in generate_series(0, 63)], 'sum') AS BIGINT) AS frame_sum
FROM f
""",
)
def q_media_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: synthesize genuine multi-frame
    concatenated-PGM containers, walk them with the stream parser, keep
    every 2nd frame with its integer pixel sum — the frame-subsample
    stage ahead of a per-frame vision encoder."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        synth_video_corpus,
        video_frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_frame_sample(synth_video_corpus(docs))


@register(
    "frame_sample_plan",
    oracle="""
SELECT doc_id,
  CAST(unnest(generate_series(0,
       CAST(floor(octet_length(encode(text))/1000) AS INTEGER), 10)) AS INTEGER)
    AS frame_idx
FROM documents
""",
)
def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index."""
    from ecommerce_data_pipeline_spark.operators.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample_plan(attach_binary_payload(docs))




_INCR_DEDUP_SQL = """
newdocs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
olddocs AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
exact AS (
  SELECT n.doc_id, min(o.doc_id) AS exact_canonical
  FROM newdocs n JOIN olddocs o ON md5(n.text) = md5(o.text)
  GROUP BY 1
),
sh_n AS (
  SELECT doc_id, unnest(list_distinct([substr(lower(text), i, 12)
    for i in generate_series(1, greatest(length(text)-11, 1))])) AS shingle
  FROM newdocs
),
sh_o AS (
  SELECT doc_id, unnest(list_distinct([substr(lower(text), i, 12)
    for i in generate_series(1, greatest(length(text)-11, 1))])) AS shingle
  FROM olddocs
),
cnt_n AS (SELECT doc_id, count(*) AS n FROM sh_n GROUP BY 1),
cnt_o AS (SELECT doc_id, count(*) AS n FROM sh_o GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS cand_id, count(*) AS i
  FROM sh_n a JOIN sh_o b ON a.shingle = b.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_id, cand_id,
         round(i * 1.0 / (cn.n + co.n - i), 4) AS jaccard
  FROM inter
  JOIN cnt_n cn USING (doc_id)
  JOIN cnt_o co ON co.doc_id = cand_id
  WHERE round(i * 1.0 / (cn.n + co.n - i), 4) >= 0.5
),
best AS (
  SELECT doc_id, cand_id AS near_canonical, jaccard FROM (
    SELECT doc_id, cand_id, jaccard,
      row_number() OVER (PARTITION BY doc_id
                         ORDER BY jaccard DESC, cand_id) AS rn
    FROM jac) WHERE rn = 1
)
"""


@register(
    "dedup_incremental_assign",
    oracle=f"""
WITH {_INCR_DEDUP_SQL}
SELECT n.doc_id,
  coalesce(e.exact_canonical, b.near_canonical, n.doc_id) AS canonical_id,
  CASE WHEN e.exact_canonical IS NOT NULL THEN 'exact'
       WHEN b.near_canonical IS NOT NULL THEN 'near'
       ELSE 'new' END AS match_kind,
  CASE WHEN e.exact_canonical IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       ELSE b.jaccard END AS jaccard
FROM newdocs n
LEFT JOIN exact e USING (doc_id)
LEFT JOIN best b USING (doc_id)
""",
)
def q_dedup_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (operators/dedup.py:incremental_dedup) — the
    daily-ingest shape at 100 TB: assign an incoming batch (doc_id%5==0
    stands in for today's crawl) against the existing corpus via an exact
    content-hash join plus an LSH bucket PROBE of the existing signature
    table. Work scales with the batch (|new| x bands probes + colliding
    pairs), never |corpus|^2; the existing side's signatures are a
    reusable artifact a production pipeline maintains incrementally. The
    oracle replays exact+near assignment with literal pairwise Jaccard —
    equal on this corpus because its similarity distribution is bimodal
    (true dups >= 0.9, where 32-band LSH recall is 1-1e-14)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return dd.incremental_dedup(existing, new)


@register(
    "contrastive_pairs",
    oracle=f"""
WITH {_COSINE_SQL}
scored AS (
  SELECT query_id, neighbor_id,
    round(list_inner_product(qv, nv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))), 4)
      AS cosine_sim
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank,
  CASE WHEN rank <= 5 THEN 'positive' ELSE 'hard_negative' END AS role
FROM ranked WHERE rank <= 5 OR rank BETWEEN 20 AND 24
""",
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining: per anchor, positives = cosine
    top-5, hard negatives = ranks 20-24 — similar enough to be
    informative, far enough to be wrong (the standard hard-negative
    recipe for embedding/reranker training; random negatives are too
    easy, rank-6 "negatives" are often false). One ranking pass serves
    both roles: the per-anchor window runs on the already-scored frame,
    so mining cost == the ANN scoring cost, and at scale the scored
    candidates come from the IVF/PQ path instead of the exact baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    ranked = sim.cosine_topk(emb, queries_df, k=24)
    return ranked.filter(
        (F.col("rank") <= 5) | F.col("rank").between(20, 24)
    ).select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        "rank",
        F.when(F.col("rank") <= 5, "positive")
        .otherwise("hard_negative")
        .alias("role"),
    )


@register(
    "media_resize_plan",
    # text is ASCII, so payload byte p == ascii(substr(text, p+1, 1)); the
    # oracle replays the strided sampling grid and weighted checksum.
    oracle="""
WITH g AS (SELECT unnest(generate_series(0, 7)) AS i),
src AS (
  SELECT doc_id, text,
    CAST(floor(sqrt(octet_length(encode(text)))) AS INTEGER) AS side
  FROM documents)
SELECT doc_id, 8 AS out_w, 8 AS out_h,
  CAST(sum(ascii(substr(text, (gi.i*side)//8*side + (gj.i*side)//8 + 1, 1))
           * (1 + gi.i*8 + gj.i)) % 1000003 AS BIGINT) AS thumb_checksum
FROM src CROSS JOIN g gi CROSS JOIN g gj
GROUP BY doc_id
""",
)
def q_media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail resize over binary payloads (the remaining multimodal
    primitive: decode / embed / frame-sample / RESIZE): Arrow-batched
    mapInPandas with a deterministic strided-sampling stub kernel — the
    production plumbing (batch shape, schema, partitioning) is real, the
    pixel kernel swaps for PIL when codecs exist. The oracle replays the
    sampling grid byte-for-byte via ASCII arithmetic."""
    from ecommerce_data_pipeline_spark.operators.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents")
    return resize_media(attach_binary_payload(docs))


@register(
    "bpe_pair_stats",
    oracle=f"""
WITH w AS (SELECT unnest({_WORDS_SQL}) AS w FROM documents),
wf AS (SELECT w, count(*) AS n FROM w WHERE length(w) >= 2 GROUP BY 1),
p AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair, n
  FROM wf
)
SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
FROM p GROUP BY 1
ORDER BY cnt DESC, pair
LIMIT 50
""",
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE first-merge statistics: top-50 adjacent character pairs by
    corpus count, counted over the frequency-weighted VOCABULARY rather
    than the raw token stream (operators/text.py:bpe_pair_counts) — the
    shuffle is O(vocab), not O(corpus)."""
    return tx.bpe_pair_counts(load_table(spark, sf_dir, "documents"))


def _bpe_train_cte(rounds: int) -> str:
    """Unrolled k-round BPE training as a CTE chain (shared by the trainer
    and the encoder oracles): each round is a CTE triple (pair counts over
    the current segmentation → 1-row argmax m{r} → re-segmented vocab v{r}
    via literal replace). Data-dependent iteration without recursion — the
    merge picked in round r feeds round r+1's segmentation."""
    parts = [
        "WITH w AS (SELECT unnest(" + _WORDS_SQL + ") AS w FROM documents),",
        "wf AS (SELECT w, count(*) AS n FROM w GROUP BY 1),",
        "v0 AS (SELECT ',' || array_to_string("
        "[w[i:i] for i in range(1, length(w)+1)], ',,') || ',' AS seg, n"
        " FROM wf)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
c{r} AS (
  SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM (
    SELECT unnest(s[1:len(s)-1]) AS a, unnest(s[2:len(s)]) AS b, n
    FROM (SELECT string_split(seg[2:length(seg)-1], ',,') AS s, n
          FROM v{r-1})
  ) GROUP BY 1, 2
),
m{r} AS (SELECT {r} AS merge_round, a, b, a||b AS merged, cnt
         FROM c{r} ORDER BY cnt DESC, a, b LIMIT 1),
v{r} AS (SELECT replace(seg, ','||a||',,'||b||',', ','||a||b||',') AS seg, n
         FROM v{r-1} CROSS JOIN m{r})"""
        )
    return "".join(parts)


def _bpe_merge_oracle(rounds: int) -> str:
    union = "\nUNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, rounds + 1))
    return (
        _bpe_train_cte(rounds)
        + f"""
SELECT merge_round, a AS sym_a, b AS sym_b, merged, cnt AS pair_count
FROM ({union})
ORDER BY merge_round"""
    )


def _bpe_encode_oracle(rounds: int) -> str:
    """Training CTEs + application: segment every word INSTANCE (keeping
    doc_id), apply the k learned merges in order, count symbols as
    ',,'-separator occurrences + 1, sum per doc."""
    parts = [
        _bpe_train_cte(rounds),
        """,
d0 AS (
  SELECT doc_id,
    ',' || array_to_string([w[i:i] for i in range(1, length(w)+1)], ',,')
        || ',' AS seg
  FROM (SELECT doc_id, unnest(""" + _WORDS_SQL + """) AS w FROM documents)
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS (SELECT doc_id,
           replace(seg, ','||a||',,'||b||',', ','||a||b||',') AS seg
         FROM d{r-1} CROSS JOIN m{r})"""
        )
    parts.append(
        f"""
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(length(seg) - length(replace(seg, ',,', ',')) + 1) AS BIGINT)
    AS bpe_tokens
FROM d{rounds}
GROUP BY doc_id"""
    )
    return "".join(parts)


@register(
    "bpe_merge_vocab",
    # The full iterative BPE trainer at k=10 merges: the oracle unrolls
    # the same greedy loop as 10 chained CTE stages (argmax → literal
    # replace re-segmentation), so the ENTIRE training trajectory —
    # tie-breaks, leftmost-non-overlapping replacement, cross-round
    # dependence — must match, not just round-0 counts.
    oracle=_bpe_merge_oracle(10),
)
def q_bpe_merge_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training, 10 rounds (operators/text.py:
    bpe_merge_vocab): per round one vocab-sized pair groupBy + a 1-row
    TakeOrdered argmax + a projection re-segmentation; the driver only
    ever holds the k merge rules."""
    return tx.bpe_merge_vocab(load_table(spark, sf_dir, "documents"), rounds=10)


@register(
    "bpe_encode_tokens",
    # Train-then-apply: the encoder must replay the SAME 10-merge
    # trajectory the trainer learns (the oracle re-derives it through the
    # shared CTE chain), then per-doc token counts after the merges. A
    # drifting tie-break, replacement rule or training round anywhere
    # breaks every doc's count.
    oracle=_bpe_encode_oracle(10),
)
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer applied to its own training corpus: 10 trained merges
    come back as literal replace() expressions (rules baked into the plan
    — no join), encoding is one codegen'd projection over the word stream
    + a doc-keyed groupBy (operators/text.py:bpe_encode_tokens)."""
    return tx.bpe_encode_tokens(load_table(spark, sf_dir, "documents"), rounds=10)


# ---------------------------------------------------------------------------
# LLM-training-data operators: corpus statistics (entropy / Heaps / Zipf)
# ---------------------------------------------------------------------------


@register(
    "char_entropy_quality",
    # Integer-microunit term sum (order-independent) then one final
    # log2/divide/round — the same cross-engine float discipline as
    # user_decayed_value. c = 2^k terms are exact integers, so the
    # HALF_UP vs ties-away rounding-mode difference can never trigger.
    oracle="""
WITH ch AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), '')) AS ch
  FROM documents
),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch WHERE ch <> '' GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(round(c * log2(c) * 1000000.0) AS BIGINT)) AS BIGINT)
           AS s_micro
  FROM cnt GROUP BY 1
),
e AS (
  SELECT doc_id, n, round(log2(n) - (s_micro / 1000000.0) / n, 4) AS ent
  FROM agg
)
SELECT doc_id, n AS n_chars_used, ent AS char_entropy,
       CASE WHEN ent >= 4.2 THEN 'high'
            WHEN ent >= 3.9 THEN 'mid'
            ELSE 'low' END AS ent_bucket
FROM e
""",
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality score per document (operators/text.py:
    char_entropy): explode-to-chars flatMap, one (doc,ch) groupBy, one
    doc groupBy — both map-side combined, linear at any corpus size."""
    return tx.char_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_growth_curve",
    # Heaps'-law curve: cumulative token count vs cumulative distinct
    # vocabulary in doc_id order. "New type" = token whose min(doc_id)
    # is this doc — turns cumulative-distinct (not directly expressible
    # as a distributive window) into two plain sums. Pure integers.
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
toks AS (SELECT doc_id, unnest(words) AS token FROM w),
nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
f AS (SELECT token, min(doc_id) AS doc_id FROM toks GROUP BY 1),
nv AS (SELECT doc_id, count(*) AS new_types FROM f GROUP BY 1),
base AS (
  SELECT d.doc_id, coalesce(nt.n_tokens, 0) AS n_tokens,
         coalesce(nv.new_types, 0) AS new_types
  FROM documents d LEFT JOIN nt USING (doc_id) LEFT JOIN nv USING (doc_id)
)
SELECT doc_id,
       CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
       CAST(sum(new_types) OVER (ORDER BY doc_id) AS BIGINT) AS cum_vocab
FROM base
""",
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: per doc (in doc_id order) the running
    token total and running distinct-vocabulary size.

    Scale shape: cumulative-distinct is recast as min(doc_id)-per-token
    (one token shuffle) + two running sums computed as a DISTRIBUTED
    two-phase prefix sum — per-bucket running sums partitioned by
    doc_id//50, plus bucket offsets from a #buckets-row window (tiny by
    construction, broadcast back). No single-partition window ever sees
    the doc-level rows, so the plan survives a billion-doc corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx._words(F.col("text"))).alias("token")
    )
    nt = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    nv = (
        toks.groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("new_types"))
    )
    base = (
        docs.select("doc_id")
        .join(nt, "doc_id", "left")
        .join(nv, "doc_id", "left")
        .fillna(0, ["n_tokens", "new_types"])
        .withColumn("bucket", F.floor(F.col("doc_id") / 50))
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    in_run = base.withColumn("rt", F.sum("n_tokens").over(w_in)).withColumn(
        "rv", F.sum("new_types").over(w_in)
    )
    btot = base.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bt"), F.sum("new_types").alias("bv")
    )
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        btot.withColumn("ot", F.coalesce(F.sum("bt").over(w_off), F.lit(0)))
        .withColumn("ov", F.coalesce(F.sum("bv").over(w_off), F.lit(0)))
        .select("bucket", "ot", "ov")
    )
    return in_run.join(F.broadcast(off), "bucket").select(
        "doc_id",
        (F.col("ot") + F.col("rt")).alias("cum_tokens"),
        (F.col("ov") + F.col("rv")).alias("cum_vocab"),
    )


@register(
    "zipf_slope",
    # Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over the
    # top-500 tokens, computed ENTIRELY in int64 (ln terms rounded to 1e-5
    # units) so the only float op is the final division+round — immune to
    # cross-engine summation order. Bounds: x,y <= ln(500)*1e5 ~ 6.2e5,
    # n <= 500 => n*sxy <= 500^2 * 4.8e11 ~ 1.2e17 << 2^63.
    oracle=f"""
WITH w AS (SELECT source, {_WORDS_SQL} AS words FROM documents),
toks AS (SELECT source, unnest(words) AS token FROM w),
cnt AS (SELECT source, token, count(*) AS c FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS r
  FROM cnt
),
xy AS (
  SELECT source,
         CAST(round(ln(r) * 100000.0) AS BIGINT) AS x,
         CAST(round(ln(c) * 100000.0) AS BIGINT) AS y
  FROM ranked WHERE r <= 500
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
  HAVING count(*) >= 2  -- slope undefined for a 1-term vocabulary
)
SELECT source, CAST(n AS INTEGER) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
FROM agg
""",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope (token log-rank vs log-frequency OLS over the
    top-500 terms): one token shuffle, one per-source window (top-500 kept
    by WindowGroupLimit before the exchange), int64 moment sums — safe at
    ANY corpus size because the top-500 cap bounds them: n ≤ 500,
    x ≤ log(500)·1e5, y ≤ log(total_tokens)·1e5 ≈ 2.8e6 even at 1e12
    tokens, so Σx·y ≤ 500 · 6.2e5 · 2.8e6 ≈ 8.7e14 ≪ int64 (unlike the
    unbounded gini/OLS moments, which accumulate in decimal(38,0))."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tx._words(F.col("text"))).alias("token")
    )
    cnt = toks.groupBy("source", "token").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "token")
    xy = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 500)
        .select(
            "source",
            F.round(F.log("r") * 100000.0).cast("long").alias("x"),
            F.round(F.log("c") * 100000.0).cast("long").alias("y"),
        )
    )
    agg = xy.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).filter(F.col("n") >= 2)  # slope undefined for a 1-term vocabulary
    return agg.select(
        "source",
        F.col("n").cast("int").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("zipf_slope"),
    )


@register(
    "edit_distance_near_dup",
    # LSH-blocked exact edit-distance verify: candidates are the
    # (bimodal-corpus-exact) MinHash pair set, the verdict is exact
    # Levenshtein similarity — int/int division + one round, both engines
    # implement classic ins/del/sub distance. The 0.97 cut drops 3 of the
    # fixture's 25 candidates, so the threshold is load-bearing.
    oracle=f"""
WITH {{jac}}
SELECT j.doc_id_a, j.doc_id_b, j.jaccard,
       CAST(levenshtein(da.text, db.text) AS INTEGER) AS lev,
       round(1.0 - levenshtein(da.text, db.text)
             / greatest(length(da.text), length(db.text)), 4) AS edit_sim
FROM jac j
JOIN documents da ON da.doc_id = j.doc_id_a
JOIN documents db ON db.doc_id = j.doc_id_b
WHERE 1.0 - levenshtein(da.text, db.text)
      / greatest(length(da.text), length(db.text)) >= 0.97
""".replace("{jac}", _jaccard_pairs_sql()),
)
def q_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verification at the character level: MinHash-LSH candidate
    pairs (operators/dedup.py:minhash_lsh_pairs) re-scored with EXACT
    Levenshtein similarity, kept at >= 0.97. Quadratic edit-distance work
    touches only LSH-colliding pairs — never the corpus cross product —
    so cost scales with the duplicate rate, not corpus^2."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs)
    ta = docs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b")
    )
    sim_expr = F.lit(1.0) - F.levenshtein("text_a", "text_b") / F.greatest(
        F.length("text_a"), F.length("text_b")
    )
    return (
        pairs.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .filter(sim_expr >= 0.97)
        .select(
            "doc_id_a",
            "doc_id_b",
            "jaccard",
            F.levenshtein("text_a", "text_b").alias("lev"),
            F.round(sim_expr, 4).alias("edit_sim"),
        )
    )


@register(
    "video_scene_cuts",
    # REAL video tier, round 8: shot-boundary detection. The mean
    # absolute adjacent-frame pixel diff has a closed form — pixel
    # delta is ((x+17) mod 256) - (x mod 256) per cell, i.e. +17 or
    # -239 at wraparounds — so the oracle replays it exactly; the Spark
    # side must DECODE the real container to land on the same grid.
    # sum/64 is dyadic => exact double, deliberately UNROUNDED (4-dp
    # rounding splits banker's-vs-half-away at .00005 boundaries).
    # Threshold 40 flags pairs where enough cells wrapped (a real
    # luminance-jump heuristic on this synthetic family).
    oracle="""
WITH g AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
f AS (
  SELECT doc_id, unnest(generate_series(1, nf - 1)) AS frame_idx
  FROM g
)
SELECT doc_id,
  CAST(frame_idx AS INTEGER) AS frame_idx,
  CAST(list_aggregate(
    [abs(((doc_id*31 + frame_idx*17 + (p//8)*7 + (p%8)*13) % 256)
       - ((doc_id*31 + (frame_idx-1)*17 + (p//8)*7 + (p%8)*13) % 256))
     for p in generate_series(0, 63)], 'sum') AS BIGINT) / 64.0
    AS mean_abs_diff,
  CAST(list_aggregate(
    [abs(((doc_id*31 + frame_idx*17 + (p//8)*7 + (p%8)*13) % 256)
       - ((doc_id*31 + (frame_idx-1)*17 + (p//8)*7 + (p%8)*13) % 256))
     for p in generate_series(0, 63)], 'sum') AS BIGINT) / 64.0 > 40.0
    AS is_cut
FROM f
""",
)
def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over real multi-frame containers
    (operators/multimodal.py:video_scene_cuts): decode every frame,
    mean-abs-diff each adjacent pair, flag cuts above threshold. The
    pre-pass before frame sampling in a video training pipeline."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        synth_video_corpus,
        video_scene_cuts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_scene_cuts(synth_video_corpus(docs))


def _bpe_fertility_oracle(rounds: int) -> str:
    """Training CTEs + application (shared with _bpe_encode_oracle), then
    the per-language rollup: fertility = BPE tokens per word."""
    parts = [
        _bpe_train_cte(rounds),
        """,
d0 AS (
  SELECT doc_id,
    ',' || array_to_string([w[i:i] for i in range(1, length(w)+1)], ',,')
        || ',' AS seg
  FROM (SELECT doc_id, unnest(""" + _WORDS_SQL + """) AS w FROM documents)
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS (SELECT doc_id,
           replace(seg, ','||a||',,'||b||',', ','||a||b||',') AS seg
         FROM d{r-1} CROSS JOIN m{r})"""
        )
    parts.append(
        f""",
per_doc AS (
  SELECT doc_id,
    CAST(count(*) AS BIGINT) AS n_words,
    CAST(sum(length(seg) - length(replace(seg, ',,', ',')) + 1) AS BIGINT)
      AS bpe_tokens
  FROM d{rounds}
  GROUP BY doc_id
)
SELECT d.lang,
  CAST(count(*) AS INTEGER) AS n_docs,
  CAST(sum(p.n_words) AS BIGINT) AS n_words,
  CAST(sum(p.bpe_tokens) AS BIGINT) AS bpe_tokens,
  round(sum(p.bpe_tokens) * 1.0 / sum(p.n_words), 4) AS fertility
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY 1"""
    )
    return "".join(parts)


@register(
    "tokenizer_fertility_by_lang",
    # The tokenizer-eval every multilingual pretraining run does before
    # committing to a vocab: fertility (BPE tokens per word) per
    # language under the corpus-trained 10-merge tokenizer. English-ish
    # merges transfer unevenly, so per-lang fertility spreads — the
    # signal vocab-allocation decisions read. The oracle re-derives the
    # full training trajectory (shared CTE chain with bpe_encode_tokens)
    # plus the per-language rollup.
    oracle=_bpe_fertility_oracle(10),
)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the corpus-trained BPE:
    train 10 merges (vocab-sized work), encode via literal replace()
    projection, one doc-keyed count, one lang rollup. Docs with zero
    words carry no word rows and drop out of both engines' rollups."""
    docs = load_table(spark, sf_dir, "documents")
    enc = tx.bpe_encode_tokens(docs, rounds=10)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("bpe_tokens").alias("bpe_tokens"),
            F.round(F.sum("bpe_tokens") / F.sum("n_words"), 4).alias(
                "fertility"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: fastText-style linear classifier inference
# as pure SQL expressions (the filter CCNet/LLaMA-class pipelines run over
# the full crawl — at 100 TB, inference-as-expression vs inference-as-UDF is
# the whole ballgame).
# ---------------------------------------------------------------------------

_CLF_DIM = 256
_CLF_BIAS = -0.05


def _clf_weights(d: int = _CLF_DIM) -> list[float]:
    """Deterministic stand-in weight vector (no external model artifact in
    this sandbox): w_j = (md5_long(str(j)) % 2001 - 1000) / 1000 rounded to
    3dp — fixed, documented, reproducible anywhere. A real deployment
    broadcasts trained weights the same way (a k×1 literal; fastText
    quality filters are exactly hashed-bag-of-words + linear head)."""
    import hashlib

    out = []
    for j in range(d):
        h = int(hashlib.md5(str(j).encode()).hexdigest()[:15], 16)
        out.append(round((h % 2001 - 1000) / 1000.0, 3))
    return out


def _clf_oracle_sql() -> str:
    wv = "[" + ", ".join(repr(w) for w in _clf_weights()) + "]"
    feat = f"({md5_long_sql('t')} % {_CLF_DIM})"
    return f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
),
toks AS (SELECT doc_id, unnest(ws) AS t FROM w),
scored AS (
  SELECT doc_id, sum(({wv})[{feat} + 1]) AS s FROM toks GROUP BY doc_id
),
fin AS (
  SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
    round({_CLF_BIAS} + coalesce(s.s, 0.0), 4) AS quality_logit
  FROM w LEFT JOIN scored s USING (doc_id)
)
SELECT doc_id, n_tokens, quality_logit,
  CAST(quality_logit >= 0.0 AS BOOLEAN) AS keep
FROM fin
"""


@register("linear_quality_classifier", oracle=_clf_oracle_sql())
def q_linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE as a single map
    stage: hashing-trick bag-of-words (md5→mod-256 feature ids, the same
    cross-engine hash as the dedup tier), a 256-float broadcast weight
    literal, and a fold — score = bias + Σ w[h(token)]. No explode, no
    shuffle, no UDF: element_at over the literal array inside
    F.aggregate keeps the whole model JVM-side in whole-stage codegen,
    which is what makes model-based filtering affordable over a full
    crawl (the CCNet/LLaMA recipe) — per-doc cost is O(tokens), the
    model rides the closure, and the stage pipelines with whatever scan
    feeds it. Verdict is recomputed from the ROUNDED logit on both
    engines so fp fold-order noise (~1e-13) can never flip `keep`.
    Weights here are a deterministic md5-derived stand-in (documented in
    _clf_weights); swap in trained weights the same literal way."""
    docs = load_table(spark, sf_dir, "documents")
    weights = F.lit(_clf_weights())
    words = F.filter(
        F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""), " "),
        lambda t: t != "",
    )
    contrib = F.transform(
        words,
        lambda t: F.element_at(
            weights, (dd._md5_long(t) % _CLF_DIM).cast("int") + 1
        ),
    )
    logit = F.round(
        F.lit(_CLF_BIAS)
        + F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x),
        4,
    )
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        logit.alias("quality_logit"),
        (logit >= 0.0).alias("keep"),
    )
