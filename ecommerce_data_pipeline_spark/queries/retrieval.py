"""Retrieval & ranking (TF-IDF, BM25, token stats) plus late-round
OLAP/quality/reconciliation queries and the ANN recall report."""

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
from ecommerce_data_pipeline_spark.sources.events import (
    orders_events,
    payments_events,
    silver_orders_frame,
    silver_payments_frame,
)
from ecommerce_data_pipeline_spark.sources.parquet import load_table, register_views

from ecommerce_data_pipeline_spark.queries._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    register,
)
from ecommerce_data_pipeline_spark.queries.medallion import PAY_SQL, md5_long_sql



_TOKS_SQL = """
toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
    w -> w <> '')) AS token
  FROM documents
),
tfreq AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2)
"""


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH {_TOKS_SQL},
dfreq AS (SELECT token, count(*) AS df FROM tfreq GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, token, tf,
    round(tf * (ln((n.n + 1.0)/(dfreq.df + 1.0)) + 1.0), 4) AS tfidf
  FROM tfreq JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY tfidf DESC, token) AS rn
  FROM scored
)
SELECT doc_id, token, tf, tfidf FROM ranked WHERE rn <= 5
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — the inverted-index shuffle plus
    two broadcast-sized corpus stats (see operators/text.py)."""
    return tx.tfidf_top_terms(load_table(spark, sf_dir, "documents"), top_k=5)


@register(
    "eval_contamination_embedding",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
ev AS (SELECT * FROM v WHERE vec_id % 20 = 0),
tr AS (SELECT * FROM v WHERE vec_id % 20 <> 0),
scored AS (
  SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
    round(list_inner_product(ev.e, tr.e)
          / (sqrt(list_inner_product(ev.e, ev.e))
             * sqrt(list_inner_product(tr.e, tr.e))), 4) AS cosine_sim
  FROM ev CROSS JOIN tr
),
best AS (
  SELECT eval_id, train_id, cosine_sim,
    row_number() OVER (PARTITION BY eval_id
        ORDER BY cosine_sim DESC, train_id) AS rn
  FROM scored
)
SELECT eval_id, train_id AS nearest_train_id, cosine_sim AS max_cosine,
  CAST(cosine_sim >= 0.40 AS BOOLEAN) AS contaminated
FROM best WHERE rn = 1
""",
)
def q_eval_contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/eval contamination audit: every held-out eval
    vector (vec_id % 20 == 0) reports its nearest TRAIN neighbor by cosine
    and whether it crosses the contamination threshold — the semantic twin
    of ``ngram_contamination`` (which catches verbatim overlap; this
    catches paraphrase-level leakage the n-gram check misses). Threshold
    0.40 sits inside the synthetic corpus's max-cosine spread (0.32-0.49)
    so both verdicts appear.

    Plan: the eval probe set is small by construction (eval suites are
    thousands of rows at any corpus scale) and broadcasts into
    ``cosine_topk``'s scan of the train side, whose per-partition
    WindowGroupLimit keeps only the local top-1 before the exchange — the
    exact-scan recall baseline; the IVF-routed variant (``ivf_topk``) is
    the 100 TB path when the probe set itself grows."""
    emb = load_table(spark, sf_dir, "embeddings")
    ev_q = emb.filter(F.col("vec_id") % 20 == 0)
    tr = emb.filter(F.col("vec_id") % 20 != 0)
    top1 = sim.cosine_topk(tr, ev_q, k=1)
    return top1.select(
        F.col("query_id").alias("eval_id"),
        F.col("neighbor_id").alias("nearest_train_id"),
        F.col("cosine_sim").alias("max_cosine"),
        (F.col("cosine_sim") >= 0.40).alias("contaminated"),
    )


@register(
    "bm25_search",
    oracle=f"""
WITH {_TOKS_SQL},
q AS (SELECT doc_id, token, tf FROM tfreq
      WHERE token IN ('spark', 'join', 'stream')),
dfreq AS (SELECT token, count(*) AS df FROM q GROUP BY 1),
dl AS (
  SELECT doc_id, len(list_filter(
    string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
    w -> w <> '')) AS dl
  FROM documents
),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
scored AS (
  SELECT q.doc_id,
    ln(1.0 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5))
      * (q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS w
  FROM q JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, round(sum(w), 4) AS score, count(*) AS n_hit_terms
FROM scored GROUP BY 1
ORDER BY score DESC, doc_id LIMIT 10
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the query {spark, join, stream}: term-filtered
    inverted index + broadcast corpus stats + TakeOrdered top-n (no global
    sort). k1=1.2, b=0.75 — so tf*(k1+1)=tf*2.2 and
    1-b+b*dl/avgdl=0.25+0.75*dl/avgdl in the oracle."""
    return tx.bm25_search(
        load_table(spark, sf_dir, "documents"), ["spark", "join", "stream"]
    )


@register(
    "hybrid_rrf_search",
    oracle=f"""
WITH {_TOKS_SQL},
q AS (SELECT doc_id, token, tf FROM tfreq
      WHERE token IN ('spark', 'join', 'stream')),
dfreq AS (SELECT token, count(*) AS df FROM q GROUP BY 1),
dl AS (
  SELECT doc_id, len(list_filter(
    string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
    w -> w <> '')) AS dl
  FROM documents
),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
bm_scored AS (
  SELECT q.doc_id,
    round(sum(ln(1.0 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5))
      * (q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4)
      AS score
  FROM q JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY 1
),
bm AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         AS INTEGER) AS bm25_rank
  FROM bm_scored QUALIFY bm25_rank <= 20
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v AS q_vec FROM e WHERE vec_id = 0),
dn AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY cs DESC, vec_id)
         AS INTEGER) AS cosine_rank
  FROM (
    SELECT e.vec_id,
      round(list_inner_product(e.v, qv.q_vec)
        / (sqrt(list_inner_product(e.v, e.v))
           * sqrt(list_inner_product(qv.q_vec, qv.q_vec))), 4) AS cs
    FROM e CROSS JOIN qv WHERE e.vec_id <> 0)
  QUALIFY cosine_rank <= 20
)
SELECT coalesce(bm.doc_id, dn.vec_id) AS doc_id,
  round(coalesce(1.0/(60 + bm25_rank), 0)
        + coalesce(1.0/(60 + cosine_rank), 0), 6) AS rrf_score,
  bm25_rank, cosine_rank
FROM bm FULL JOIN dn ON bm.doc_id = dn.vec_id
ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword top-20 and dense cosine top-20 (query
    = vector 0) fused by reciprocal-rank fusion, score = Σ 1/(60+rank)
    (Cormack et al. 2009's k=60) — the standard sparse+dense fusion of a
    RAG/retrieval data pipeline. Both legs are the already-verified
    operators; fusion is one broadcast-sized full outer join over ≤40 rows,
    so the plan cost is the two legs themselves."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    bm = (
        tx.bm25_search(docs, ["spark", "join", "stream"], top_n=20)
        .withColumn("bm25_rank", F.row_number().over(w))
        .select("doc_id", "bm25_rank")
    )
    dn = (
        sim.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("vec_id"),
                F.col("rank").alias("cosine_rank"))
    )
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("cosine_rank")), F.lit(0.0)),
        6,
    )
    return (
        bm.join(dn, bm["doc_id"] == dn["vec_id"], "full_outer")
        .select(
            F.coalesce(bm["doc_id"], dn["vec_id"]).alias("doc_id"),
            rrf.alias("rrf_score"),
            "bm25_rank",
            "cosine_rank",
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


@register(
    "top_tokens",
    oracle=f"""
WITH {_TOKS_SQL}
SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences, count(*) AS n_docs
FROM tfreq GROUP BY token
ORDER BY n_occurrences DESC, token LIMIT 50
""",
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies, top-50: explode → two-level count (the
    (doc,token) pre-aggregate bounds the explode shuffle) → global top-k
    via TakeOrdered. Vocabulary-size output regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    t = tx._term_freqs(docs, "text", "doc_id")
    return (
        t.groupBy("token")
        .agg(
            F.sum("tf").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(50)
    )


@register(
    "customer_spend_quartiles",
    oracle="""
WITH spend AS (
  SELECT o_custkey, sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS total_spend
  FROM orders GROUP BY 1
)
SELECT o_custkey, total_spend,
  ntile(4) OVER (ORDER BY total_spend DESC, o_custkey) AS quartile
FROM spend
""",
)
def q_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE ranking: customers into spend quartiles. The global-order
    window is the honest cost (one range-partitioned sort of the
    CUSTOMER-grain aggregate — small next to the fact scan); deterministic
    o_custkey tiebreak makes bucket edges stable."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        money_sum("o_totalprice").alias("total_spend")
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("o_custkey"))
    return spend.select(
        "o_custkey", "total_spend", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "events_hourly_window",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
  event_type, count(*) AS n,
  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
FROM events GROUP BY 1, 2, 3
""",
)
def q_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation via Spark's native window() expression —
    the same operator Structured Streaming uses with a watermark, here in
    batch. One hash agg; window bounds come from the struct, no join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


@register(
    "approx_users_sketch_rollup",
    oracle="""
SELECT count(DISTINCT user_id) AS exact_users, count(*) AS n_events,
  TRUE AS within_bound
FROM events
""",
)
def q_approx_users_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental distinct-count pattern end-to-end: per-day HLL
    sketch table (one fixed-width row per day — the MERGE-maintained
    increment) union-merged to a corpus-wide distinct-user estimate.
    Emitted as the deterministic contract (exact count + 5% error-bound
    boolean; HLL union is register-max, merge-order independent) so the
    driver can hash-check it; the pytest suite additionally asserts
    merge-invariance of the sketch table itself (operators/sketches.py)."""
    from ecommerce_data_pipeline_spark.operators.sketches import (
        daily_user_sketches,
        merge_sketches,
    )

    ev = load_table(spark, sf_dir, "events")
    rolled = merge_sketches(daily_user_sketches(ev))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return rolled.crossJoin(exact).select(
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_bound"),
    )


@register(
    "shipping_priority_top10",
    oracle="""
SELECT l_orderkey,
  sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
""",
)
def q_shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter (mktsegment) broadcast
    into the orders join, both date predicates pushed to their scans, then
    revenue rollup + top-10 via TakeOrdered. The plan: filtered customer
    (small) broadcasts; orders joins then lineitem joins shuffle on the
    order key once; no global sort for the limit. Exact 1e-4-unit money."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev_u = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        F.broadcast(customer)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_u) / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "media_embedding_topk",
    oracle=f"""
WITH emb AS (
  -- outer comprehension variable is 'd': md5_long_sql's own inner
  -- comprehension binds 'i', which would shadow an outer 'i'.
  SELECT doc_id,
    [CAST(({md5_long_sql("text || ':' || CAST(d AS VARCHAR)")}) % 100000 AS DOUBLE)/100000.0
     for d in generate_series(0, 15)] AS e
  FROM documents
),
q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id % 100 = 0),
scored AS (
  SELECT q.query_id, emb.doc_id AS neighbor_id,
    round(list_inner_product(qe, e)
          / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4)
      AS cosine_sim
  FROM q JOIN emb ON emb.doc_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 3
""",
)
def q_media_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal training-data path end-to-end: binary payloads →
    Arrow-batched embed kernel (stub encoder, operators/multimodal.py) →
    exact cosine top-3 per query doc. Proves the binary→vector→ANN
    composition on real Spark plumbing; the oracle recomputes the
    deterministic embedding and ranking entirely in SQL."""
    from ecommerce_data_pipeline_spark.operators.multimodal import embed_media

    docs = load_table(spark, sf_dir, "documents")
    emb = embed_media(attach_binary_payload(docs))
    # Filter BEFORE the embed kernel on the query side: Catalyst does not
    # push predicates through MapInPandas, so filtering the embedded frame
    # would run the (expensive at scale) encoder over the full corpus twice.
    queries_df = embed_media(
        attach_binary_payload(docs.filter(F.col("doc_id") % 100 == 0))
    )
    return sim.cosine_topk(
        emb, queries_df, k=3, id_col="doc_id", vec_col="embedding"
    )


@register(
    "video_frame_topk",
    # Video → retrieval loop closed: REAL multi-frame containers
    # (concatenated-PGM, every 40th doc — the probe set stays a bounded
    # sample per the SCALE.md §10 policy, ~2 frames/video), stream-parsed
    # frame sampling
    # (frames 0, 2, 4 of n_frames = 2 + doc_id % 4), each kept frame's
    # 8x8 raster as a 64-dim vector, exact cosine top-3 against the
    # embeddings corpus via the WindowGroupLimit rank shape. Query ids are
    # mapped negative (-(doc_id*10+frame_idx+1)) so cosine_topk's
    # self-match exclusion can never collide with corpus vec_ids. Oracle
    # recomputes frame pixels in closed form (pixel[f,i,j] =
    # (d*31+f*17+i*7+j*13) % 256) — container parse, frame sampling
    # stride, raster order and ranking are all on the hook.
    oracle="""
WITH v AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv
  FROM embeddings
),
f AS (
  SELECT doc_id, fi.f AS frame_idx,
    [ CAST((doc_id*31 + fi.f*17 + (p // 8)*7 + (p % 8)*13) % 256 AS DOUBLE)
      for p in generate_series(0, 63) ] AS qv
  FROM documents, (SELECT unnest(generate_series(0, 4)) AS f) fi
  WHERE doc_id % 40 = 0 AND fi.f < 2 + doc_id % 4 AND fi.f % 2 = 0
),
scored AS (
  SELECT doc_id, frame_idx, neighbor_id,
    round(list_inner_product(qv, nv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))), 4)
      AS cosine_sim
  FROM f, v
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, frame_idx
      ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT doc_id, frame_idx, neighbor_id, cosine_sim,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
""",
)
def q_video_frame_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled video frames as first-class retrieval citizens: real
    container parse → every-2nd-frame sample → 64-dim frame vectors
    (operators/multimodal.video_frame_vectors) → exact cosine top-3
    against the embeddings corpus (WindowGroupLimit local top-k,
    operators/similarity.cosine_topk). The broadcast side is the sampled
    query frames (a bounded probe set: |docs|/40 x ~2 frames — fixed-size
    by policy, SCALE.md §10), never the corpus."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        synth_video_corpus,
        video_frame_vectors,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 40 == 0
    )
    frames = video_frame_vectors(synth_video_corpus(docs))
    queries_df = frames.select(
        (-(F.col("doc_id") * 10 + F.col("frame_idx") + 1)).alias("vec_id"),
        "embedding",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.cosine_topk(emb, queries_df, k=3)
    qabs = -F.col("query_id") - 1
    return out.select(
        F.floor(qabs / 10).cast("long").alias("doc_id"),
        (qabs % 10).cast("int").alias("frame_idx"),
        "neighbor_id",
        "cosine_sim",
        "rank",
    )


@register(
    "shipment_status_current",
    oracle=f"""
WITH {PAY_SQL}
SELECT order_id,
  CASE WHEN fully_paid AND o_orderstatus = 'F' THEN 'DISPATCHED'
       WHEN fully_paid THEN 'READY_TO_SHIP'
       ELSE 'PENDING_PAYMENT' END AS state,
  CASE WHEN fully_paid AND o_orderstatus = 'F'
         THEN last_payment_ts + INTERVAL 1 HOUR
       WHEN fully_paid THEN last_payment_ts
       ELSE order_ts END AS state_ts,
  CAST(1 + CASE WHEN fully_paid THEN 1 ELSE 0 END
         + CASE WHEN fully_paid AND o_orderstatus = 'F' THEN 1 ELSE 0 END
       AS BIGINT) AS n_events
FROM enriched JOIN orders USING (o_orderkey)
""",
)
def q_shipment_status_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7's second machine: the 3-state shipment lifecycle
    (PENDING_PAYMENT → READY_TO_SHIP → DISPATCHED,
    services/shipping/app/kafka/consumer.py:100-141) as the same monotone
    fold. Shipment events derive deterministically from the medallion:
    every order opens PENDING_PAYMENT; full payment emits READY_TO_SHIP at
    the last payment; finished ('F') orders dispatch an hour later. One
    union + one hash agg — no sequential replay."""
    from ecommerce_data_pipeline_spark.operators.state import (
        SHIPMENT_STATE_RANKS,
        fold_state_events,
    )

    orders_clean = silver_orders_frame(spark, sf_dir)
    payments_clean = silver_payments_frame(spark, sf_dir)
    enriched = enrich_orders(orders_clean, payments_clean)
    status = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("order_id"), "o_orderstatus"
    )
    e = enriched.join(status, "order_id")
    # Emit all three lifecycle events in ONE pass: a 3-branch union re-ran
    # the whole silver+enrich chain per branch (Catalyst plans each union
    # leg independently). Conditional struct elements explode to the same
    # rows; null elements (guard not met) are filtered out.
    ev = F.explode(
        F.array(
            F.struct(
                F.lit("PENDING_PAYMENT").alias("state"),
                F.col("order_ts").alias("event_ts"),
            ),
            F.when(
                F.col("fully_paid"),
                F.struct(
                    F.lit("READY_TO_SHIP").alias("state"),
                    F.col("last_payment_ts").alias("event_ts"),
                ),
            ),
            F.when(
                F.col("fully_paid") & (F.col("o_orderstatus") == "F"),
                F.struct(
                    F.lit("DISPATCHED").alias("state"),
                    (F.col("last_payment_ts") + F.expr("INTERVAL 1 HOUR")).alias(
                        "event_ts"
                    ),
                ),
            ),
        )
    )
    events = (
        e.select("order_id", ev.alias("ev"))
        .filter(F.col("ev").isNotNull())
        .select("order_id", "ev.state", "ev.event_ts")
    )
    return fold_state_events(events, ranks=SHIPMENT_STATE_RANKS)


@register(
    "quality_report",
    oracle=f"""
WITH {PAY_SQL},
fact AS (
  SELECT date_trunc('minute', o_orderdate) AS minute_bucket,
    {money_sum_sql('total_amount')} AS gmv,
    count(*) AS paid_orders
  FROM enriched WHERE fully_paid GROUP BY 1
),
s AS (
  SELECT
    sum(CASE WHEN minute_bucket IS NULL THEN 1 ELSE 0 END) AS nn_bucket,
    sum(CASE WHEN gmv IS NULL THEN 1 ELSE 0 END) AS nn_gmv,
    sum(CASE WHEN paid_orders IS NULL THEN 1 ELSE 0 END) AS nn_paid,
    count(*) - count(DISTINCT minute_bucket) AS dup_buckets,
    sum(CASE WHEN gmv < 0 THEN 1 ELSE 0 END) AS neg_gmv,
    sum(CASE WHEN paid_orders < 0 THEN 1 ELSE 0 END) AS neg_paid
  FROM fact
)
SELECT 'not_null:minute_bucket' AS check, CAST(nn_bucket AS BIGINT) AS failing_rows, nn_bucket = 0 AS passed FROM s
UNION ALL SELECT 'not_null:gmv', CAST(nn_gmv AS BIGINT), nn_gmv = 0 FROM s
UNION ALL SELECT 'not_null:paid_orders', CAST(nn_paid AS BIGINT), nn_paid = 0 FROM s
UNION ALL SELECT 'unique:minute_bucket', CAST(dup_buckets AS BIGINT), dup_buckets = 0 FROM s
UNION ALL SELECT 'non_negative:gmv', CAST(neg_gmv AS BIGINT), neg_gmv = 0 FROM s
UNION ALL SELECT 'non_negative:paid_orders', CAST(neg_paid AS BIGINT), neg_paid = 0 FROM s
""",
)
def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-build quality gate as a QUERY: the gold fact's full check
    suite (not_null ×3, unique minute_bucket, non_negative ×2 —
    schema.yml:4-20 parity) computed in ONE aggregate pass over the fact
    (conditional sums + count distinct), then unpivoted to a row per
    check. Contrast with quality.py's per-check actions: this is the
    report shape a scheduler would persist each run."""
    fact = QUERIES["fct_sales_minute"](spark, sf_dir)
    s = fact.agg(
        F.sum(F.when(F.col("minute_bucket").isNull(), 1).otherwise(0)).alias("nn_bucket"),
        F.sum(F.when(F.col("gmv").isNull(), 1).otherwise(0)).alias("nn_gmv"),
        F.sum(F.when(F.col("paid_orders").isNull(), 1).otherwise(0)).alias("nn_paid"),
        (F.count(F.lit(1)) - F.countDistinct("minute_bucket")).alias("dup_buckets"),
        F.sum(F.when(F.col("gmv") < 0, 1).otherwise(0)).alias("neg_gmv"),
        F.sum(F.when(F.col("paid_orders") < 0, 1).otherwise(0)).alias("neg_paid"),
    )
    checks = [
        ("not_null:minute_bucket", "nn_bucket"),
        ("not_null:gmv", "nn_gmv"),
        ("not_null:paid_orders", "nn_paid"),
        ("unique:minute_bucket", "dup_buckets"),
        ("non_negative:gmv", "neg_gmv"),
        ("non_negative:paid_orders", "neg_paid"),
    ]
    # Unpivot via explode of a struct array — a UNION of per-check selects
    # would re-evaluate the fact-building lineage once per branch.
    packed = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("check"),
                    F.col(c).cast("long").alias("failing_rows"),
                    (F.col(c) == 0).alias("passed"),
                )
                for name, c in checks
            ]
        )
    ).alias("r")
    return s.select(packed).select("r.check", "r.failing_rows", "r.passed")


@register(
    "sales_cube",
    oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
  coalesce(o_orderstatus, 'ALL') AS status,
  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS revenue,
  count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
)
def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four grouping combinations of (priority, status) in one
    Expand + one hash aggregate — completes the grouping-construct family
    next to revenue_rollup's ROLLUP. 2^n expansion is the honest cost of
    CUBE; keep n small by design."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            money_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "above_avg_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT 1.5 * avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
""",
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface: orders 50%
    above their customer's average. Catalyst de-correlates it into an
    aggregate + equi-join (no per-row subquery execution) — assert-able in
    the plan, and the idiomatic rewrite at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM __orders_sq o
        WHERE o_totalprice > (
          SELECT 1.5 * avg(i.o_totalprice)
          FROM __orders_sq i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "payment_reconciliation",
    oracle=f"""
WITH {PAY_SQL},
o AS (SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
             CAST(round(round(o_totalprice, 2)*100) AS BIGINT) AS total_c
      FROM orders),
pp AS (SELECT CAST(order_key AS VARCHAR) AS order_id, count(*) AS n_legs,
              sum(amount_cents) AS paid_c
       FROM pay GROUP BY 1),
j AS (SELECT order_id, total_c, coalesce(n_legs, 0) AS n_legs,
             coalesce(paid_c, 0) AS paid_c, o.order_id IS NULL AS orphan
      FROM o FULL JOIN pp USING (order_id))
SELECT order_id,
  CASE WHEN orphan THEN 'orphan_payment'
       WHEN paid_c = 0 THEN 'unpaid'
       WHEN paid_c < total_c THEN 'partial'
       WHEN paid_c = total_c THEN 'exact'
       ELSE 'overpaid' END AS status,
  n_legs,
  CAST(CASE WHEN orphan THEN paid_c
            WHEN paid_c = 0 THEN -total_c
            ELSE paid_c - total_c END AS DOUBLE)/100.0 AS delta
FROM j
""",
)
def q_payment_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order ledger reconciliation: full-outer join of orders against
    the payment-leg rollup, residue classified (unpaid/partial/exact/
    overpaid) INCLUDING the orphan payments the enrich join drops.
    Cents-exact integer deltas. All built-ins — order_id-grain groups are
    far too small for per-group Python; the cogroup-API twin
    (service.reconcile_orders_payments, identical semantics,
    equality-tested in tests/) exists for ledger-walk kernels SQL cannot
    express."""
    orders_clean = silver_orders_frame(spark, sf_dir)
    payments_clean = silver_payments_frame(spark, sf_dir)
    o = orders_clean.select(
        "order_id", F.round(F.col("total_amount") * 100).cast("long").alias("total_c")
    )
    pp = payments_clean.groupBy("order_id").agg(
        F.count(F.lit(1)).alias("n_legs"),
        F.sum(F.round(F.col("amount") * 100).cast("long")).alias("paid_c"),
    )
    j = (
        o.join(pp, "order_id", "full_outer")
        .select(
            "order_id",
            "total_c",
            F.coalesce("n_legs", F.lit(0)).alias("n_legs"),
            F.coalesce("paid_c", F.lit(0)).alias("paid_c"),
            F.col("total_c").isNull().alias("orphan"),
        )
    )
    status = (
        F.when(F.col("orphan"), "orphan_payment")
        .when(F.col("paid_c") == 0, "unpaid")
        .when(F.col("paid_c") < F.col("total_c"), "partial")
        .when(F.col("paid_c") == F.col("total_c"), "exact")
        .otherwise("overpaid")
    )
    delta_c = (
        F.when(F.col("orphan"), F.col("paid_c"))
        .when(F.col("paid_c") == 0, -F.col("total_c"))
        .otherwise(F.col("paid_c") - F.col("total_c"))
    )
    return j.select(
        "order_id",
        status.alias("status"),
        "n_legs",
        (delta_c.cast("double") / 100.0).alias("delta"),
    )


def _d2_sql(a: str, b: str) -> str:
    return (
        f"(list_inner_product({a},{a}) - 2*list_inner_product({a},{b})"
        f" + list_inner_product({b},{b}))"
    )


def _kmeans_cells_sql(
    k: int, iters: int, dim: int, src: str = "emb", suffix: str = ""
) -> list[str]:
    """CTE parts replaying the deterministic Lloyd's fit + final corpus
    assignment (operators/quantize.py — md5-order init, argmin assign with
    lowest-cell tiebreak, per-cell component means, empty cells keep their
    centroid), unrolled over ``iters`` fixed iterations. Exact because the
    iteration count is a constant of the query, not data-dependent. The
    final assignment lands in CTE ``a{iters}{suffix}`` (vec_id, v, cell).

    ``src``/``suffix`` let callers replay several independent fits in one
    query (the PQ oracle runs one per subspace); with the defaults the
    emitted names match the original single-fit form.

    PARITY CONSTRAINT: this replay fits on the FULL corpus, while
    kmeans_fit defaults to a 100k smallest-md5 sample (fit_sample). The
    two see the same rows — hence identical centroids — only while the
    fixture stays under the cap; tests/test_round9_new.py pins every
    oracle-certified embeddings fixture below it (they are 500–2000
    rows, 50× headroom). If a fixture ever outgrows the cap, mirror the
    smallest-md5 LIMIT here instead of raising the cap."""
    parts = []
    if src == "emb":
        parts.append(
            "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
        )
    parts.append(
        f"""c0{suffix} AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
         AS INTEGER) AS cell, v
  FROM (SELECT vec_id, v FROM {src}
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k})
)"""
    )
    for t in range(iters + 1):
        # Assignment under centroids c{t}; the last one (t == iters) is the
        # final corpus assignment used by the search, not a fit step.
        parts.append(
            f"""a{t}{suffix} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_d2_sql('e.v', 'c.v')}, c.cell) AS rn
    FROM {src} e CROSS JOIN c{t}{suffix} c) WHERE rn = 1
)"""
        )
        if t == iters:
            break
        parts.append(
            f"""m{t}{suffix} AS (
  SELECT cell, list(comp ORDER BY i) AS v FROM (
    SELECT cell, i, avg(val) AS comp FROM (
      SELECT cell, unnest(generate_series(1, {dim})) AS i, unnest(v) AS val
      FROM a{t}{suffix})
    GROUP BY cell, i)
  GROUP BY cell
)"""
        )
        parts.append(
            f"""c{t + 1}{suffix} AS (
  SELECT c.cell, coalesce(m.v, c.v) AS v
  FROM c{t}{suffix} c LEFT JOIN m{t}{suffix} m USING (cell)
)"""
        )
    return parts


def _kmeans_recall_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64, nprobe: int = 3
) -> str:
    """DuckDB twin of the full IVF recall pipeline: the shared k-means
    replay (_kmeans_cells_sql), then exact vs multi-probe top-5 and
    per-query recall."""
    d2 = _d2_sql
    parts = _kmeans_cells_sql(k, iters, dim)
    parts.append(
        "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0)"
    )
    cos = (
        "round(list_inner_product({q}, {n})"
        " / (sqrt(list_inner_product({q}, {q})) * sqrt(list_inner_product({n}, {n}))), 4)"
    )
    parts.append(
        f"""ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cs DESC, neighbor_id) AS rank
    FROM (SELECT q.query_id, e.vec_id AS neighbor_id,
            {cos.format(q='q.qv', n='e.v')} AS cs
          FROM q JOIN emb e ON e.vec_id <> q.query_id))
  WHERE rank <= 5
)"""
    )
    parts.append(
        f"""probe AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {d2('q.qv', 'c.v')}, c.cell) AS prn
    FROM q CROSS JOIN c{iters} c) WHERE prn <= {nprobe}
)"""
    )
    parts.append(
        f"""ap AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cs DESC, neighbor_id) AS rank
    FROM (SELECT p.query_id, a.vec_id AS neighbor_id,
            {cos.format(q='p.qv', n='a.v')} AS cs
          FROM probe p JOIN a{iters} a
            ON a.cell = p.cell AND a.vec_id <> p.query_id))
  WHERE rank <= 5
)"""
    )
    parts.append(
        """hits AS (
  SELECT query_id, count(*) AS n_hit
  FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT e.query_id, round(coalesce(h.n_hit, 0) / e.n_exact, 4) AS recall_at_5
FROM (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1) e
LEFT JOIN hits h USING (query_id)
"""


def _streaming_ann_assign_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64
) -> str:
    """DuckDB twin of the streaming index-maintenance path: replay the
    deterministic k-means fit on the EXISTING split (the persisted index
    artifact), then assign every NEW vector to its nearest fitted centroid
    — micro-batch boundaries cannot change a per-row argmin, so streaming
    output == this batch replay by construction."""
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "embx AS (SELECT vec_id, v FROM emb WHERE vec_id % 4 <> 0)",
    ]
    # Fit replay on the existing split; drop the trailing full-corpus
    # assignment CTE (a{iters}) — only the fitted centroids are needed.
    parts += _kmeans_cells_sql(k, iters, dim, src="embx")[:-1]
    parts.append("newv AS (SELECT vec_id, v FROM emb WHERE vec_id % 4 = 0)")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT vec_id, cell FROM (
  SELECT n.vec_id, c.cell,
    row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY {_d2_sql('n.v', 'c.v')}, c.cell) AS rn
  FROM newv n CROSS JOIN c{iters} c) WHERE rn = 1
"""


@register("streaming_ann_assign", oracle=_streaming_ann_assign_oracle_sql())
def q_streaming_ann_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance — the similarity-tier twin of
    ``streaming_incremental_dedup``: the coarse quantizer is FIT ONCE on
    the existing corpus (vec_id % 4 != 0; the persisted index artifact),
    then new vectors arrive as a file stream (the Kafka stand-in) and
    every micro-batch assigns them to their nearest centroid inside
    foreachBatch, writing cell-partitioned postings under its own
    ``batch=b<id>`` directory (operators/postings.py: overwrite-by-batch,
    so at-least-once retries never duplicate; ``compact_postings`` is the
    OPTIMIZE analogue that later consolidates the per-trigger small
    files) — exactly how a 100 TB IVF index absorbs new embeddings
    without a refit: the per-batch work is one map stage against k×dim
    broadcast centroid literals, state is the artifact (never stream
    history), and the cell-partitioned layout means later probes prune
    posting files by directory. Per-row argmin is batch-independent, so
    streaming output equals the batch replay (the oracle) regardless of
    trigger slicing.

    Same kmeans_fit sample-cap parity constraint as ann_recall_report
    (tests/test_round9_new.py pins every certified fixture below the cap).
    Output: (vec_id, cell) for every newly ingested vector."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        write_posting_batch,
    )
    from ecommerce_data_pipeline_spark.operators.quantize import (
        assign_cells,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    centroids = kmeans_fit(existing, k=8, iters=3)
    root = tempfile.mkdtemp(prefix="stream_annassign_")
    try:
        src, out, ck = f"{root}/src", f"{root}/postings", f"{root}/ckpt"
        new.repartition(4).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema

        def assign_batch(batch_df: DataFrame, batch_id: int) -> None:
            # Idempotent per-batch write (operators/postings.py): a
            # foreachBatch retry overwrites its own batch=b<id> directory
            # instead of appending a duplicate copy.
            write_posting_batch(
                assign_cells(batch_df, centroids).select("vec_id", "cell"),
                out,
                batch_id,
            )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(assign_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.read.parquet(out)
            .select("vec_id", F.col("cell").cast("int").alias("cell"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ann_postings_compaction_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64
) -> str:
    """DuckDB twin: compaction must be content-neutral, so the oracle is
    simply the k-means replay's full-corpus assignment grouped by cell —
    if the compacted layout dropped, duplicated, or mutated one posting,
    a count or checksum diverges."""
    ctes = ",\n".join(_kmeans_cells_sql(k, iters, dim))
    return f"""
WITH {ctes}
SELECT cell, count(*) AS n_vecs,
  CAST(sum(vec_id % 1000000) AS BIGINT) AS id_checksum
FROM a{iters} GROUP BY cell
"""


@register("ann_postings_compaction", oracle=_ann_postings_compaction_oracle_sql())
def q_ann_postings_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-layout compaction, certified content-neutral: the corpus is
    ingested as four micro-batch posting writes (operators/postings.py —
    each batch its own ``batch=b<id>`` dir, one file per task per cell:
    the streaming small-files problem in miniature), then
    ``compact_postings`` consolidates the snapshot into one file per cell
    and removes exactly the inputs it read. Per-cell counts and id
    checksums of the POST-compaction layout must hash-match the oracle's
    k-means-replay assignment — any row lost, duplicated, or re-celled by
    the rewrite breaks the equality. The query raises if compaction
    didn't actually shrink the file count, so a silent no-op can't pass.

    Scale: this is the OPTIMIZE analogue a day of 10 s triggers needs
    (~8640 × n_cells tiny files otherwise); the rewrite reads only the
    snapshot batch dirs (partition-pruned) and shuffles each cell to one
    task, so cost is one pass over the postings, never the vectors."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        compact_postings,
        write_posting_batch,
    )
    from ecommerce_data_pipeline_spark.operators.quantize import (
        assign_cells,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, k=8, iters=3)
    assigned = assign_cells(emb, centroids).select("vec_id", "cell")
    root = tempfile.mkdtemp(prefix="ann_compact_")
    try:
        out = f"{root}/postings"
        for i in range(4):
            write_posting_batch(
                assigned.filter(F.col("vec_id") % 4 == i), out, i
            )
        stats = compact_postings(spark, out, file_threshold=4)
        if not stats["compacted"] or (
            stats["n_files_after"] >= stats["n_files_before"]
        ):
            raise AssertionError(f"compaction did not consolidate: {stats}")
        back = spark.read.parquet(out)
        return (
            back.groupBy(F.col("cell").cast("int").alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(F.col("vec_id") % 1000000).alias("id_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


_POSTINGS_VACUUM_READ_ORACLE = """
SELECT CAST((vec_id // 4) % 8 AS INT) AS cell, count(*) AS n_vecs,
  CAST(sum(vec_id % 1000000) AS BIGINT) AS id_checksum
FROM embeddings GROUP BY 1
"""


@register("postings_vacuum_read", oracle=_POSTINGS_VACUUM_READ_ORACLE)
def q_postings_vacuum_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-safe OPTIMIZE/VACUUM lifecycle of the posting layout
    (operators/postings.py round 12): retained compaction tombstones its
    inputs in the manifest instead of deleting them, ``read_postings``
    serves snapshot-consistent reads by excluding tombstoned dirs, and
    ``vacuum_postings`` reclaims them after the retention window. The
    query ingests the corpus as four micro-batch posting writes (cells
    assigned by a plain hash so the oracle certifies STORAGE, not
    clustering), compacts with ``retain_inputs=True``, asserts the
    tombstoned window is real (a raw root read double-counts while
    ``read_postings`` is exact), vacuums at zero retention, and returns
    per-cell counts/checksums of the post-vacuum snapshot read — any row
    lost, duplicated, or re-celled anywhere in the lifecycle breaks the
    oracle hash.

    Scale: delete-at-commit compaction is only safe with no concurrent
    readers; at 100 TB a probe fleet is ALWAYS scanning, so the
    production shape is exactly this retention split (Delta
    OPTIMIZE+VACUUM where the log exists). The reader pays one manifest
    listing per snapshot — O(compact dirs), driver-side metadata — and
    cell-filter pushdown still prunes partition directories."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        compact_postings,
        read_postings,
        vacuum_postings,
        write_posting_batches,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Cell key decorrelated from the batch key (vec_id % 4), so every
    # micro-batch spans every cell and compaction has real fan-in.
    assigned = emb.select(
        "vec_id", F.expr("CAST((vec_id DIV 4) % 8 AS INT)").alias("cell")
    )
    n_total = assigned.count()
    root = tempfile.mkdtemp(prefix="postings_vacuum_")
    try:
        out = f"{root}/postings"
        # The four micro-batch dirs are independent — pooled writes
        # (guide §2.6, r17); the lifecycle sequence (writes → compact →
        # vacuum) is unchanged.
        write_posting_batches(
            (
                (assigned.filter(F.col("vec_id") % 4 == i), i)
                for i in range(4)
            ),
            out,
        )
        stats = compact_postings(
            spark, out, file_threshold=4, retain_inputs=True
        )
        if not stats["compacted"] or (
            stats["n_files_after"] >= stats["n_files_before"]
        ):
            raise AssertionError(f"compaction did not consolidate: {stats}")
        raw_during = spark.read.parquet(out).count()
        snap_during = read_postings(spark, out).count()
        if raw_during != 2 * n_total or snap_during != n_total:
            raise AssertionError(
                "tombstone window wrong: raw="
                f"{raw_during} snapshot={snap_during} expected {n_total}"
            )
        vac = vacuum_postings(spark, out, min_age_sec=0)
        if len(vac["removed"]) != 4:
            raise AssertionError(f"vacuum did not reclaim inputs: {vac}")
        back = read_postings(spark, out)
        if spark.read.parquet(out).count() != n_total:
            raise AssertionError("raw read inexact after vacuum")
        return (
            back.groupBy(F.col("cell").cast("int").alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(F.col("vec_id") % 1000000).alias("id_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("postings_delete_after_retain", oracle=_POSTINGS_VACUUM_READ_ORACLE)
def q_postings_delete_after_retain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone inheritance across compaction modes (ADVICE r12 high,
    fixed round 13): a delete-mode compaction that consumes a RETAINED
    compact dir whose tombstoned inputs are still on disk must inherit
    those tombstones — write the transitive closure into its manifest and
    delete the whole closure leaf-first. Pre-fix, this exact sequence
    deleted the tombstoner together with the only manifest naming its
    tombstones, permanently double-counting every row (8 in, 16 out) with
    repair and vacuum both powerless.

    The query replays the production sequence on real data: four
    micro-batch posting writes → retained compaction (OPTIMIZE-style,
    inputs tombstoned but live) → two MORE micro-batches land during the
    retention window → delete-mode compaction over the whole root. It
    asserts the retention window was real (raw read double-counts wave 1
    while the snapshot read is exact), then that the delete-mode commit
    collapsed the layout to a SINGLE batch dir whose raw AND snapshot
    reads both equal the full corpus — no orphaned duplicate anywhere —
    and returns per-cell counts/checksums of the final layout for the
    oracle hash.

    Scale: this is the mode transition a real lakehouse performs daily
    (retention-window OPTIMIZE while probes scan, then a maintenance
    window delete-mode rewrite); the closure manifest is O(compact-chain
    length) driver-side metadata, never data."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        _list_batch_dirs,
        compact_postings,
        read_postings,
        write_posting_batches,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        "vec_id", F.expr("CAST((vec_id DIV 4) % 8 AS INT)").alias("cell")
    )
    # One aggregate job for both guard scalars (was two full-scan counts).
    _tot = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("vec_id") % 6 < 4, 1)).alias("w1"),
    ).first()
    n_total, n_wave1 = int(_tot["n"]), int(_tot["w1"])
    root = tempfile.mkdtemp(prefix="postings_del_ret_")
    try:
        out = f"{root}/postings"
        # Wave-1's four micro-batch dirs are independent — pooled writes
        # (guide §2.6, r17); wave ordering (4 writes → retained
        # compaction → 2 writes → delete-mode compaction) is unchanged.
        write_posting_batches(
            (
                (assigned.filter(F.col("vec_id") % 6 == i), i)
                for i in range(4)
            ),
            out,
        )
        s1 = compact_postings(
            spark, out, file_threshold=4, retain_inputs=True
        )
        if not s1["compacted"]:
            raise AssertionError(f"retained compaction skipped: {s1}")
        # Retention window live: wave 1 double-counted raw, snapshot exact.
        if spark.read.parquet(out).count() != n_wave1 + n_wave1:
            raise AssertionError("tombstone window missing before wave 2")
        write_posting_batches(
            (
                (assigned.filter(F.col("vec_id") % 6 == i), i)
                for i in (4, 5)
            ),
            out,
        )
        if read_postings(spark, out).count() != n_total:
            raise AssertionError("snapshot read inexact during retention")
        s2 = compact_postings(spark, out, file_threshold=0, min_input_dirs=1)
        if not s2["compacted"]:
            raise AssertionError(f"delete-mode compaction skipped: {s2}")
        live = _list_batch_dirs(spark, out)
        if live != [s2["output_dir"]]:
            raise AssertionError(
                f"closure not fully reclaimed: {live} vs {s2['output_dir']}"
            )
        if spark.read.parquet(out).count() != n_total:
            raise AssertionError("raw read inexact after delete-mode commit")
        back = read_postings(spark, out)
        return (
            back.groupBy(F.col("cell").cast("int").alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(F.col("vec_id") % 1000000).alias("id_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _streaming_postings_lifecycle_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64
) -> str:
    """DuckDB twin of the full streaming-compact-streaming lifecycle:
    replay the k-means fit on the EXISTING split, assign every NEW vector
    to its nearest centroid, group per cell. Compaction is content-neutral
    and per-row argmin is batch-independent, so the lifecycle's final
    layout must aggregate to exactly this batch replay."""
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "embx AS (SELECT vec_id, v FROM emb WHERE vec_id % 4 <> 0)",
    ]
    parts += _kmeans_cells_sql(k, iters, dim, src="embx")[:-1]
    parts.append("newv AS (SELECT vec_id, v FROM emb WHERE vec_id % 4 = 0)")
    parts.append(
        f"""asg AS (
  SELECT vec_id, cell FROM (
    SELECT n.vec_id, c.cell,
      row_number() OVER (PARTITION BY n.vec_id
                         ORDER BY {_d2_sql('n.v', 'c.v')}, c.cell) AS rn
    FROM newv n CROSS JOIN c{iters} c) WHERE rn = 1
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT cell, count(*) AS n_vecs,
  CAST(sum(vec_id % 1000000) AS BIGINT) AS id_checksum
FROM asg GROUP BY cell
"""


@register(
    "streaming_postings_lifecycle",
    oracle=_streaming_postings_lifecycle_oracle_sql(),
)
def q_streaming_postings_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end posting-layout lifecycle under a LIVE reader contract —
    round-11 VERDICT ask #4. ``streaming_ann_assign`` certifies the write
    path and ``ann_postings_compaction`` the compact path in isolation;
    this query certifies their interleaving: stream a first wave of new
    vectors into per-batch posting dirs, compact mid-stream (while the
    checkpointed stream is between triggers), resume the SAME stream for a
    second wave, then probe the final layout. The docstring claim under
    test is the reader contract — ``spark.read.parquet(root)`` discovery
    works before, during, and after compaction — so the query asserts the
    row count at every lifecycle stage and fails loudly if compaction
    didn't consolidate, dropped or duplicated a posting, or the resumed
    stream re-processed wave-1 files. Final per-cell counts + id checksums
    must hash-match the oracle's batch k-means replay.

    Scale: exactly the 100 TB steady state — appends land in
    batch-owned dirs (idempotent under foreachBatch retry), the compactor
    consolidates snapshots without pausing ingestion, and readers never
    see a torn layout (rename publishes data + consumed-inputs manifest
    atomically; operators/postings.py)."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        compact_postings,
        write_posting_batch,
    )
    from ecommerce_data_pipeline_spark.operators.quantize import (
        assign_cells,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    wave1 = new.filter(F.col("vec_id") % 8 == 0)
    wave2 = new.filter(F.col("vec_id") % 8 == 4)
    # One aggregate job for both guard scalars (was two full-scan counts).
    _n = new.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count(F.when(F.col("vec_id") % 8 == 0, 1)).alias("n_w1"),
    ).first()
    n_wave1, n_new = int(_n["n_w1"]), int(_n["n_new"])
    root = tempfile.mkdtemp(prefix="postings_lifecycle_")
    try:
        src, out, ck = f"{root}/src", f"{root}/postings", f"{root}/ckpt"
        # The k-means fit collect (existing split) and the wave-1 source
        # staging write (new split) are independent jobs — overlap them
        # (guide §2.6, r17).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as _pool:
            _fc = _pool.submit(kmeans_fit, existing, 8, 3)
            _fw = _pool.submit(
                wave1.repartition(4).write.mode("overwrite").parquet, src
            )
            centroids = _fc.result()
            _fw.result()
        schema = spark.read.parquet(src).schema

        def assign_batch(batch_df: DataFrame, batch_id: int) -> None:
            write_posting_batch(
                assign_cells(batch_df, centroids).select("vec_id", "cell"),
                out,
                batch_id,
            )

        def drain() -> None:
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
                .writeStream.foreachBatch(assign_batch)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()  # wave 1: multiple micro-batches → batch=b* dirs
        before = spark.read.parquet(out).count()
        if before != n_wave1:
            raise AssertionError(f"pre-compaction read: {before} != {n_wave1}")
        stats = compact_postings(spark, out, file_threshold=2)
        if not stats["compacted"] or (
            stats["n_files_after"] >= stats["n_files_before"]
        ):
            raise AssertionError(f"mid-stream compaction no-op: {stats}")
        during = spark.read.parquet(out).count()
        if during != n_wave1:
            raise AssertionError(
                f"post-compaction read: {during} != {n_wave1}"
            )
        # wave 2 lands in the SAME source; the checkpoint resumes the
        # stream, processing only the new files (batch ids continue past
        # the compacted generation's).
        wave2.repartition(4).write.mode("append").parquet(src)
        drain()
        back = spark.read.parquet(out)
        after = back.count()
        if after != n_new:
            raise AssertionError(f"post-resume read: {after} != {n_new}")
        return (
            back.groupBy(F.col("cell").cast("int").alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(F.col("vec_id") % 1000000).alias("id_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ivf_postings_probe_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64, nprobe: int = 3, topk: int = 5
) -> str:
    """DuckDB twin of the disk-layout probe: full k-means replay, probe
    routing to the nprobe nearest cells, within-cell top-k — the posting
    layout is content-neutral storage, so probing THROUGH it must equal
    probing the in-memory assignment."""
    parts = _kmeans_cells_sql(k, iters, dim)
    parts.append(
        "qv AS (SELECT vec_id, v FROM emb WHERE vec_id % 50 = 0)"
    )
    d2 = _d2_sql
    parts.append(
        f"""probe AS (
  SELECT qid, qvec, cell FROM (
    SELECT q.vec_id AS qid, q.v AS qvec, c.cell,
      row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY {d2('q.v', 'c.v')}, c.cell) AS prn
    FROM qv q CROSS JOIN c{iters} c) WHERE prn <= {nprobe}
)"""
    )
    cos = (
        "round(list_inner_product({q}, {n})"
        " / (sqrt(list_inner_product({q}, {q}))"
        " * sqrt(list_inner_product({n}, {n}))), 4)"
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
    {cos.format(q='p.qvec', n='a.v')} AS cosine_sim,
    CAST(row_number() OVER (PARTITION BY p.qid
                       ORDER BY {cos.format(q='p.qvec', n='a.v')} DESC,
                                a.vec_id) AS INT) AS rank
  FROM probe p JOIN a{iters} a ON a.cell = p.cell
  WHERE a.vec_id <> p.qid) WHERE rank <= {topk}
"""


@register("ivf_postings_probe", oracle=_ivf_postings_probe_oracle_sql())
def q_ivf_postings_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k answered THROUGH the on-disk posting layout — the
    consumer that the cell-partitioned/compacted layout exists for, now
    certified end-to-end: the corpus's (vec_id, vector, cell) postings
    are written as micro-batch dirs and compacted to one file per cell
    (operators/postings.py), probes route to their nprobe nearest cells
    via broadcast centroid literals (multiprobe_route), and the search
    reads ONLY the probed cells' directories — a static partition-pruning
    `cell IN (...)` filter over the layout, so a probe touches
    ~nprobe/k_cells of the FILES, not just of the rows (the claim the
    compaction docstring makes; tests/test_round12_new.py pins the
    PartitionFilters in the physical plan). Results must hash-match the
    oracle's in-memory replay — the layout is certified content-neutral
    storage for the search, not just for counts.

    The probed-cell set is k_cells-bounded (≤8 here) — the one driver
    round-trip, same k-bounded collect discipline as the registry's other
    audited collects."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        compact_postings,
        write_posting_batch,
    )
    from ecommerce_data_pipeline_spark.operators.quantize import (
        assign_cells,
        kmeans_fit,
        multiprobe_route,
    )
    from ecommerce_data_pipeline_spark.operators.similarity import (
        topk_within_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    centroids = kmeans_fit(emb, k=8, iters=3)
    assigned = assign_cells(emb, centroids)  # (vec_id, v, cell)
    root = tempfile.mkdtemp(prefix="ivf_postings_")
    try:
        out = f"{root}/postings"
        for b in range(2):
            write_posting_batch(
                assigned.filter(F.col("vec_id") % 2 == b), out, b
            )
        stats = compact_postings(spark, out, file_threshold=2)
        if not stats["compacted"]:
            raise AssertionError(f"layout not compacted: {stats}")
        probed = multiprobe_route(probes, centroids, nprobe=3)
        cells = sorted(
            r["cell"] for r in probed.select("cell").distinct().collect()
        )  # k_cells-bounded (≤8)
        corpus = (
            spark.read.parquet(out)
            .where(F.col("cell").isin(cells))  # static partition pruning
            .select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("n_vec"),
                F.col("cell").cast("int").alias("cell"),
            )
        )
        return topk_within_cells(corpus, probed, k=5).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _eval_contamination_ivf_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64, nprobe: int = 3
) -> str:
    """DuckDB twin of the IVF-routed contamination audit: k-means replay
    fitted on the TRAIN split only, eval probes routed to their nprobe
    nearest cells, within-cell top-1 vs the exact cross-join top-1."""
    d2 = _d2_sql
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "ev AS (SELECT vec_id, v FROM emb WHERE vec_id % 20 = 0)",
        "tr AS (SELECT vec_id, v FROM emb WHERE vec_id % 20 <> 0)",
    ]
    parts += _kmeans_cells_sql(k, iters, dim, src="tr")
    cos = (
        "round(list_inner_product({q}, {n})"
        " / (sqrt(list_inner_product({q}, {q})) * sqrt(list_inner_product({n}, {n}))), 4)"
    )
    parts.append(
        f"""probe AS (
  SELECT eval_id, qv, cell FROM (
    SELECT e.vec_id AS eval_id, e.v AS qv, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {d2('e.v', 'c.v')}, c.cell) AS prn
    FROM ev e CROSS JOIN c{iters} c) WHERE prn <= {nprobe}
)"""
    )
    parts.append(
        f"""ivf1 AS (
  SELECT eval_id, neighbor_id, cs FROM (
    SELECT p.eval_id, a.vec_id AS neighbor_id,
      {cos.format(q='p.qv', n='a.v')} AS cs,
      row_number() OVER (PARTITION BY p.eval_id
                         ORDER BY {cos.format(q='p.qv', n='a.v')} DESC,
                                  a.vec_id) AS rn
    FROM probe p JOIN a{iters} a ON a.cell = p.cell) WHERE rn = 1
)"""
    )
    parts.append(
        f"""ex1 AS (
  SELECT eval_id, cs AS excs FROM (
    SELECT e.vec_id AS eval_id, {cos.format(q='e.v', n='t.v')} AS cs,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {cos.format(q='e.v', n='t.v')} DESC,
                                  t.vec_id) AS rn
    FROM ev e CROSS JOIN tr t) WHERE rn = 1
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT i.eval_id, i.neighbor_id AS nearest_train_id, i.cs AS max_cosine,
  CAST(i.cs >= 0.40 AS BOOLEAN) AS contaminated,
  CAST((i.cs >= 0.40) = (x.excs >= 0.40) AS BOOLEAN) AS verdict_matches_exact
FROM ivf1 i JOIN ex1 x USING (eval_id)
"""


@register("eval_contamination_ivf", oracle=_eval_contamination_ivf_oracle_sql())
def q_eval_contamination_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed train/eval contamination audit — the 100 TB path for
    ``eval_contamination_embedding`` (whose exact scan is the recall
    baseline): fit the coarse quantizer on the TRAIN side only, route each
    eval probe to its nprobe nearest cells, and report the within-cell
    nearest train neighbor, the contamination verdict, and whether that
    verdict AGREES with the exact scan's — certifying not just the IVF
    plumbing but its decision quality, per probe (the same
    self-measuring pattern as ann_recall_report). Work per probe is
    ~nprobe/k of the corpus instead of all of it; at real scale the
    exact column is sampled, not computed for every probe.

    Determinism: the shared kmeans_fit/multiprobe machinery (md5-order
    init, fixed iterations, tiebroken argmin, round-4 cosines) lets the
    oracle replay both routes bit-stably in DuckDB."""
    from ecommerce_data_pipeline_spark.operators.quantize import (
        kmeans_fit,
        multiprobe_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ev_q = emb.filter(F.col("vec_id") % 20 == 0)
    tr = emb.filter(F.col("vec_id") % 20 != 0)
    centroids = kmeans_fit(tr, k=8, iters=3)
    ivf1 = multiprobe_topk(tr, ev_q, centroids, k=1, nprobe=3)
    exact1 = sim.cosine_topk(tr, ev_q, k=1).select(
        "query_id", (F.col("cosine_sim") >= 0.40).alias("contaminated_exact")
    )
    return ivf1.join(exact1, "query_id").select(
        F.col("query_id").alias("eval_id"),
        F.col("neighbor_id").alias("nearest_train_id"),
        F.col("cosine_sim").alias("max_cosine"),
        (F.col("cosine_sim") >= 0.40).alias("contaminated"),
        (
            (F.col("cosine_sim") >= 0.40) == F.col("contaminated_exact")
        ).alias("verdict_matches_exact"),
    )


@register("ann_recall_report", oracle=_kmeans_recall_oracle_sql())
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring ANN quality: recall@5 of the k-means IVF multi-probe
    search (8 cells, nprobe=3 — the real quantizer, operators/quantize.py)
    against the exact brute-force top-5, per query — the number a 100 TB
    deployment watches when it trades scan cost for recall. Both paths run
    in-engine; one semi join + one agg compares them. The oracle replays
    the ENTIRE pipeline — Lloyd's fit included — in DuckDB SQL
    (_kmeans_recall_oracle_sql), made possible by the quantizer's
    determinism (md5-order init, fixed iteration count, tiebroken argmin)."""
    from ecommerce_data_pipeline_spark.operators.quantize import (
        kmeans_fit,
        multiprobe_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    centroids = kmeans_fit(emb, k=8, iters=3)
    approx = multiprobe_topk(emb, queries_df, centroids, k=5, nprobe=3).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall_at_5"),
        )
    )


def _semantic_dedup_oracle_sql(
    k: int = 8, iters: int = 3, dim: int = 64, threshold: float = 0.4
) -> str:
    """DuckDB twin of operators.quantize.semantic_dedup: shared k-means
    replay, within-cell cosine pairs, drop the higher id of each pair."""
    parts = _kmeans_cells_sql(k, iters, dim)
    cos = (
        "round(list_inner_product(a.v, b.v)"
        " / (sqrt(list_inner_product(a.v, a.v))"
        " * sqrt(list_inner_product(b.v, b.v))), 4)"
    )
    parts.append(
        f"""dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a{iters} a JOIN a{iters} b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold}
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT x.vec_id, x.cell, x.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
FROM a{iters} x
"""


@register("semantic_dedup_keep", oracle=_semantic_dedup_oracle_sql())
def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-space near-dup removal inside k-means cells —
    the dedup tier that catches paraphrases shingle methods miss. Keeps
    the minimum id of every within-cell pair with cosine >= 0.4 (the
    synthetic corpus' cosines top out at ~0.51, so 0.4 exercises both
    kept and dropped outcomes; production SemDeDup uses ~0.95 on real
    encoder embeddings). Oracle replays the deterministic fit, the cell
    assignment and the same pair rule."""
    from ecommerce_data_pipeline_spark.operators.quantize import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iters=3, threshold=0.4)


@register(
    "sliding_window_gmv",
    oracle=f"""
WITH p AS (SELECT ts, value FROM events WHERE event_type = 'purchase'),
g AS (
  SELECT make_timestamp(
    ((CAST(floor(epoch(ts)/900) AS BIGINT) - j.j) * 900) * 1000000
  ) AS window_start, value
  FROM p CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
)
SELECT window_start,
  window_start + INTERVAL 60 MINUTE AS window_end,
  {money_sum_sql('value')} AS gmv,
  count(*) AS purchases
FROM g GROUP BY 1
""",
)
def q_sliding_window_gmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) 60-minute window, 15-minute slide: every purchase
    lands in exactly 4 overlapping windows — the smoothing the tumbling
    events_hourly_window can't give (a spike at :59 splits across
    buckets). Spark's window(slide) expands rows ×(window/slide) BEFORE
    the shuffle — a fixed 4× factor here, same aggregate scale class as
    the tumbling twin. In streaming the identical expression is
    watermark-mergeable state. Oracle replays the epoch-aligned window
    arithmetic with generate_series."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "60 minutes", "15 minutes").alias("w"))
        .agg(
            money_sum("value").alias("gmv"),
            F.count(F.lit(1)).alias("purchases"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "gmv",
            "purchases",
        )
    )


@register(
    "local_supplier_revenue",
    oracle="""
SELECT n_name AS nation,
  sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0
    AS revenue,
  count(*) AS n_items
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-table star with the
    correlated 'supplier in the customer's nation' equi-condition — the
    canonical join-ordering / broadcast showcase. nation+region broadcast
    (tiny at ANY scale factor) and prune to one region BEFORE the big
    joins; orders carries both pushed date bounds; the only shuffles are
    the customer⋈orders⋈lineitem⋈supplier fact chain on their keys.
    Exact 1e-4-unit money."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = F.broadcast(
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey")).select(
            "n_nationkey", "n_name"
        )
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev_u = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        customer.join(asia_nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(rev_u) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "unigram_logprob_score",
    oracle=f"""
WITH {_TOKS_SQL},
cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM tfreq GROUP BY 1),
tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS n FROM cf)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_tokens,
  round(sum(tf * ln(ctf * 1.0 / tot.n)) / sum(tf), 4) AS avg_logprob
FROM tfreq JOIN cf USING (token) CROSS JOIN tot
GROUP BY doc_id
""",
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score (the CCNet filtering signal, with a
    corpus-trained unigram LM standing in for the 5-gram KenLM): per-doc
    token-average log probability under corpus unigram frequencies. Low
    scorers are boilerplate/rare-junk; high scorers are stopword soup —
    real pipelines keep the middle band. Plan: the (doc,token) inverted
    index (one explode + hash agg), a token-keyed corpus-frequency join
    (vocabulary-sized build side), one per-doc aggregate. No UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    t = tx._term_freqs(docs, "text", "doc_id")
    cf = t.groupBy("token").agg(F.sum("tf").alias("ctf"))
    tot = cf.agg(F.sum("ctf").alias("n"))
    return (
        t.join(cf, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("ctf") / F.col("n")))
                / F.sum("tf"),
                4,
            ).alias("avg_logprob"),
        )
    )


@register(
    "bigram_logprob_score",
    # Same tokenizer as _TOKS_SQL; adjacent pairs via zipped parallel
    # unnest of the two shifted list slices (1-based inclusive slicing).
    # c1 is the bigram-START count so the conditional normalizes over the
    # observed vocab; 0.25/N unigram backoff keeps every pair finite.
    oracle="""
WITH w AS (
  SELECT doc_id, list_filter(
    string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
    x -> x <> '') AS ws
  FROM documents
),
big AS (
  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
  FROM w WHERE len(ws) >= 2
),
btf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM big GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM btf GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
uni AS (
  SELECT unnest(ws) AS w2 FROM w
),
unic AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM uni GROUP BY 1),
tot AS (SELECT CAST(sum(c2) AS BIGINT) AS n FROM unic)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_bigrams,
  round(sum(tf * ln(0.75 * c12 * 1.0 / c1 + 0.25 * c2 * 1.0 / tot.n))
        / sum(tf), 4) AS avg_logprob
FROM btf JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN unic USING (w2)
CROSS JOIN tot
GROUP BY doc_id
""",
)
def q_bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score — the tier above the unigram
    perplexity proxy on the CCNet filtering ladder. One adjacent-pair
    explode + hash agg; corpus count tables re-aggregate that same frame;
    vocabulary-keyed scoring joins. All codegen, no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bigram_logprob_score(docs)


@register(
    "embedding_int8_audit",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v, CASE WHEN m = 0 THEN 1.0 ELSE m/127 END AS scale
  FROM (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) AS m FROM e)
),
q AS (
  SELECT vec_id, v, scale,
    list_transform(v, x -> CAST(floor(x/scale + 0.5) AS INTEGER)) AS qv
  FROM s
)
SELECT vec_id,
  round(scale, 6) AS scale_r,
  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
  CAST(list_max(qv) AS INTEGER) AS q_max,
  round(list_inner_product(v, CAST(qv AS DOUBLE[]))
        / (sqrt(list_inner_product(v, v))
           * sqrt(list_inner_product(CAST(qv AS DOUBLE[]),
                                     CAST(qv AS DOUBLE[])))), 4) AS cos_q
FROM q
""",
)
def q_embedding_int8_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 storage quantization audit (operators/quantize.py:int8_quantize
    — the 4x embedding-storage compression a 100 TB vector corpus runs):
    per vector, the quantization scale, exact integer digests of the
    quantized values (L1 mass, max code — bit-stable cross-engine because
    floor(+0.5) pins the rounding mode), and the cosine between the
    original and its quantized form (scale cancels), i.e. the retrieval
    fidelity the compression actually costs. Pure map stage, no shuffle."""
    from ecommerce_data_pipeline_spark.operators.quantize import int8_quantize

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    joined = int8_quantize(emb, keep=("v",))
    qd = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(F.col("v"), qd, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return joined.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.aggregate(
            F.transform(F.col("qvec"), lambda x: F.abs(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_l1"),
        F.array_max("qvec").cast("int").alias("q_max"),
        F.round(dot / (norm(F.col("v")) * norm(qd)), 4).alias("cos_q"),
    )


@register(
    "events_quarantine",
    oracle="""
WITH t AS (
  SELECT *,
    (event_type IN ('signup','click','view','purchase')) AS r_type,
    (value BETWEEN 0 AND 400) AS r_value,
    (user_id IS NOT NULL) AS r_user
  FROM events),
b AS (
  SELECT * FROM t
  WHERE NOT coalesce(r_type, FALSE) OR NOT coalesce(r_value, FALSE)
     OR NOT coalesce(r_user, FALSE))
SELECT 'known_type' AS rule, count(*) AS n FROM t WHERE NOT coalesce(r_type, FALSE)
UNION ALL
SELECT 'value_in_range', count(*) FROM t WHERE NOT coalesce(r_value, FALSE)
UNION ALL
SELECT 'has_user', count(*) FROM t WHERE NOT coalesce(r_user, FALSE)
UNION ALL
SELECT '__quarantined__', count(*) FROM b
UNION ALL
SELECT '__passed__', (SELECT count(*) FROM events) - count(*) FROM b
""",
)
def q_events_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectations ledger (dbt store_failures / Delta
    constraint parity): per-rule violation counts plus the
    quarantined/passed split from quality.quarantine — error-typed events
    and out-of-range values land in quarantine instead of silently
    polluting downstream facts. Null rule results count as failures
    (constraint semantics). Every branch is a single-row aggregate over
    the same pushed-filter scan."""
    from ecommerce_data_pipeline_spark.quality import quarantine

    ev = load_table(spark, sf_dir, "events")
    rules = {
        "known_type": F.col("event_type").isin(
            "signup", "click", "view", "purchase"
        ),
        "value_in_range": F.col("value").between(0, 400),
        "has_user": F.col("user_id").isNotNull(),
    }
    good, bad = quarantine(ev, rules)
    branches = [
        ev.agg(
            F.sum(
                (~F.coalesce(expr, F.lit(False))).cast("long")
            ).alias("n")
        ).select(F.lit(name).alias("rule"), "n")
        for name, expr in rules.items()
    ]
    branches.append(
        bad.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("__quarantined__").alias("rule"), "n"
        )
    )
    branches.append(
        good.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("__passed__").alias("rule"), "n"
        )
    )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionByName(br)
    return out


@register(
    "token_freq_cms",
    oracle=f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(lower(regexp_replace(lower(text),
      '[^a-z ]', '', 'g')), ' '), w -> w <> '')) AS token
  FROM documents),
exact AS (
  SELECT token, count(*) AS exact_n FROM toks
  GROUP BY 1 ORDER BY exact_n DESC, token LIMIT 20),
cms AS (
  SELECT g.i AS i,
    {md5_long_sql("concat(token, ':', CAST(g.i AS VARCHAR))")} % 8192 AS bucket,
    count(*) AS n
  FROM toks CROSS JOIN generate_series(0, 3) AS g(i)
  GROUP BY 1, 2),
probes AS (
  SELECT e.token, e.exact_n, g.i AS i,
    {md5_long_sql("concat(e.token, ':', CAST(g.i AS VARCHAR))")} % 8192 AS bucket
  FROM exact e CROSS JOIN generate_series(0, 3) AS g(i))
SELECT p.token, p.exact_n, min(c.n) AS cms_est
FROM probes p JOIN cms c ON c.i = p.i AND c.bucket = p.bucket
GROUP BY 1, 2
""",
)
def q_token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: the top-20 exact tokens probed
    against a DataFrame-materialized CMS (operators/sketches.py:cms_table)
    — (token, exact_n, cms_est). The sketch is depth×width = 4×8192
    counter rows NO MATTER the corpus/vocabulary size (the fixed-state
    property that makes frequency tracking viable over unbounded token
    streams), built in one map-side-combinable groupBy and probed via a
    broadcast join. md5-derived bucket hashing keeps the sketch
    bit-identical across engines, so even the sketch ESTIMATES
    hash-match the oracle — no error-bound contract needed."""
    from ecommerce_data_pipeline_spark.operators.sketches import (
        cms_lookup,
        cms_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx._words(F.col("text"))).alias("token"))
    exact_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "token")
        .limit(20)
    )
    cms = cms_table(toks, depth=4, width=8192)
    return cms_lookup(cms, exact_top, depth=4, width=8192)


def _pq_recall_oracle_sql(
    m: int = 4, k: int = 8, iters: int = 2, dim: int = 64, topk: int = 5
) -> str:
    """DuckDB replay of the FULL product-quantization pipeline: m
    independent per-subspace k-means fits (reusing _kmeans_cells_sql with
    src/suffix), code assignment, asymmetric-distance top-k, and recall@k
    against the exact L2 top-k. Both engines rank by 4-dp-rounded
    distances with neighbor_id tiebreaks, so ordering is identical."""
    d = dim // m
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ]
    for s in range(m):
        lo, hi = s * d + 1, (s + 1) * d
        parts.append(f"emb_s{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM emb)")
        parts.extend(
            _kmeans_cells_sql(k, iters, d, src=f"emb_s{s}", suffix=f"_s{s}")
        )
    code_joins = " ".join(
        f"JOIN a{iters}_s{s} cs{s} USING (vec_id)" for s in range(1, m)
    )
    cb_joins = " ".join(
        f"JOIN c{iters}_s{s} cb{s} ON cb{s}.cell = cs{s}.cell" for s in range(m)
    )
    adc_terms = " + ".join(
        _d2_sql(f"q.qv[{s * d + 1}:{(s + 1) * d}]", f"cb{s}.v")
        for s in range(m)
    )
    parts.append(
        "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0)"
    )
    parts.append(f"""adc AS (
  SELECT q.query_id, cs0.vec_id AS neighbor_id,
    round({adc_terms}, 4) AS adc_d2
  FROM a{iters}_s0 cs0 {code_joins} {cb_joins}
  CROSS JOIN q
  WHERE q.query_id <> cs0.vec_id)""")
    parts.append(f"""adc_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_d2, neighbor_id) AS rn
    FROM adc) WHERE rn <= {topk})""")
    parts.append(f"""exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY round({_d2_sql('q.qv', 'e.v')}, 4),
                                  e.vec_id) AS rn
    FROM emb e CROSS JOIN q WHERE q.query_id <> e.vec_id)
  WHERE rn <= {topk})""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT x.query_id,
  round(count(a.neighbor_id) * 1.0 / {topk}, 4) AS recall_at_{topk}
FROM exact_top x
LEFT JOIN adc_top a USING (query_id, neighbor_id)
GROUP BY 1"""
    )


@register("pq_recall_report", oracle=_pq_recall_oracle_sql())
def q_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN quality: recall@5 of asymmetric-distance
    search over 4×8 PQ codes (16 bits/vector — the RAM-resident index
    tier below int8) against the exact L2 top-5, per query. The oracle
    replays the ENTIRE pipeline — all four per-subspace Lloyd's fits,
    code assignment, ADC ranking — in unrolled DuckDB SQL, possible
    because every stage is deterministic (md5-order init, fixed
    iterations, tiebroken argmin, 4-dp-rounded rank keys)."""
    from ecommerce_data_pipeline_spark.operators.quantize import (
        _as_double,
        _dist2_col,
        pq_adc_topk,
        pq_fit,
    )
    from ecommerce_data_pipeline_spark.operators.similarity import rank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    books = pq_fit(emb, m=4, k=8, iters=2)
    approx = pq_adc_topk(emb, queries_df, books, k=5).select(
        "query_id", "neighbor_id"
    )
    qv = queries_df.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("nv"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dist2_col(F.col("qv"), F.col("nv")), 4).alias("d2"),
        )
    )
    exact = rank_topk(scored, 5, F.col("d2")).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(5.0), 4
            ).alias("recall_at_5"),
        )
    )


@register(
    "ccnet_quality_buckets",
    oracle=f"""
WITH {_TOKS_SQL},
cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM tfreq GROUP BY 1),
tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS n FROM cf),
score AS (
  SELECT doc_id,
    round(sum(tf * ln(ctf * 1.0 / tot.n)) / sum(tf), 4) AS avg_logprob
  FROM tfreq JOIN cf USING (token) CROSS JOIN tot
  GROUP BY doc_id
),
ranked AS (
  SELECT d.lang, s.doc_id, s.avg_logprob,
    ntile(3) OVER (PARTITION BY d.lang
                   ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM score s JOIN documents d USING (doc_id)
)
SELECT lang, doc_id, avg_logprob,
  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
    AS ppl_bucket
FROM ranked
""",
)
def q_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity buckets (Wenzek et al. 2020, arXiv:1911.00359):
    within each language, rank documents by LM score (unigram stand-in for
    the 5-gram KenLM) and split into head/middle/tail thirds — the
    canonical pre-training curation signal (head = fluent, tail = junk;
    CCNet trains on head+middle).

    Plan: the inverted-index scoring pipeline of `unigram_logprob_score`
    (one explode-shuffle, vocabulary-sized frequency join, per-doc agg),
    then ONE window partitioned by language. ntile-per-language is the
    correctness spec here; at 100 TB a per-language total sort is the
    skew bottleneck (4 langs = 4 reducers), so the scale path swaps the
    window for two per-language `percentile_approx` thresholds (a partial
    agg + a 4-row broadcast join) — same buckets up to quantile-sketch
    error, no global sort. Ties broken by doc_id; score rounded 4dp so
    ln() ulp differences can't flip an ordering across engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = tx._term_freqs(docs, "text", "doc_id")
    cf = t.groupBy("token").agg(F.sum("tf").alias("ctf"))
    tot = cf.agg(F.sum("ctf").alias("n"))
    score = (
        t.join(cf, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.col("ctf") / F.col("n")))
                / F.sum("tf"),
                4,
            ).alias("avg_logprob")
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    return (
        score.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("nt", F.ntile(3).over(w))
        .select(
            "lang",
            "doc_id",
            "avg_logprob",
            F.when(F.col("nt") == 1, F.lit("head"))
            .when(F.col("nt") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Diversity-aware retrieval: Maximal Marginal Relevance rerank
# ---------------------------------------------------------------------------


def _mmr_oracle_sql(kc: int = 20, ks: int = 5) -> str:
    """Unrolled greedy MMR as chained CTEs: candidate top-kc by rounded
    cosine, pairwise candidate sims, then ks argmax-selection stages (the
    same trajectory-unrolling device as the BPE trainer oracle)."""
    parts = [
        f"""
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 50 = 0),
v AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings),
scored0 AS (
  SELECT query_id, cand_id,
         round(list_inner_product(qv, nv)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(nv, nv))), 4) AS rel
  FROM q, v WHERE query_id <> cand_id),
cand AS (
  SELECT query_id, cand_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, cand_id) AS rn
    FROM scored0) WHERE rn <= {kc}),
pair AS (
  SELECT c1.query_id, c1.cand_id AS a, c2.cand_id AS b,
         round(list_inner_product(va.nv, vb.nv)
               / (sqrt(list_inner_product(va.nv, va.nv))
                  * sqrt(list_inner_product(vb.nv, vb.nv))), 4) AS sim
  FROM cand c1
  JOIN cand c2 ON c1.query_id = c2.query_id AND c1.cand_id <> c2.cand_id
  JOIN v va ON va.cand_id = c1.cand_id
  JOIN v vb ON vb.cand_id = c2.cand_id),
sel1 AS (
  SELECT query_id, cand_id, rel, 1 AS sel_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, cand_id) AS rn
    FROM cand) WHERE rn = 1)"""
    ]
    for i in range(2, ks + 1):
        p = i - 1
        parts.append(f"""
scored{i} AS (
  SELECT c.query_id, c.cand_id, max(c.rel) AS rel,
         max(c.rel) * 0.5 - max(p.sim) * 0.5 AS score
  FROM cand c
  JOIN pair p ON p.query_id = c.query_id AND p.a = c.cand_id
  JOIN sel{p} s ON s.query_id = p.query_id AND s.cand_id = p.b
  WHERE NOT EXISTS (SELECT 1 FROM sel{p} x
                    WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id)
  GROUP BY c.query_id, c.cand_id),
sel{i} AS (
  SELECT query_id, cand_id, rel, sel_rank FROM sel{p}
  UNION ALL
  SELECT query_id, cand_id, rel, {i} AS sel_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, cand_id) AS rn
    FROM scored{i}) WHERE rn = 1)"""
        )
    body = ",".join(parts)
    return (
        f"WITH {body} "
        f"SELECT query_id, cand_id AS neighbor_id, "
        f"CAST(sel_rank AS INTEGER) AS sel_rank, rel AS relevance FROM sel{ks}"
    )


@register("mmr_diverse_topk", oracle=_mmr_oracle_sql(20, 5))
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 (lambda=0.5) from exact top-20 candidates,
    every 50th vector as query (operators/similarity.py:mmr_rerank). The
    greedy loop runs on |Q|*20 candidate rows only — corpus-independent
    after retrieval."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.mmr_rerank(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k_candidates=20, k_select=5
    )


# ---------------------------------------------------------------------------
# Bitext mining: ratio-margin criterion over cross-lingual embeddings
# ---------------------------------------------------------------------------


@register(
    "bitext_margin_pairs",
    # LASER/CCMatrix-style parallel-corpus mining between the fixture's
    # 'en' (probe, doc_id%10=0 — bounded broadcast side, same policy as
    # video_frame_topk) and 'de' documents via their embeddings. The
    # ratio margin cos/(mean of both directions' top-4 neighborhoods)
    # demotes hub vectors; both means come off ONE scored block. The
    # oracle replays the identical block/windows; cosine and margin are
    # both 4-dp rounded so the threshold compares the same grid.
    oracle="""
WITH sv AS (
  SELECT e.vec_id AS src_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = 'en' AND e.vec_id % 10 = 0
),
tv AS (
  SELECT e.vec_id AS tgt_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = 'de'
),
sc AS (
  SELECT s.src_id, t.tgt_id,
    round(list_inner_product(s.v, t.v)
          / (sqrt(list_inner_product(s.v, s.v))
             * sqrt(list_inner_product(t.v, t.v))), 4) AS cosine_sim
  FROM sv s CROSS JOIN tv t
),
rf AS (SELECT *, row_number() OVER (PARTITION BY src_id
         ORDER BY cosine_sim DESC, tgt_id) AS rf FROM sc),
fwd AS (SELECT src_id, avg(cosine_sim) AS fwd_mean FROM rf
        WHERE rf <= 4 GROUP BY 1),
rb AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
         ORDER BY cosine_sim DESC, src_id) AS rb FROM sc),
bwd AS (SELECT tgt_id, avg(cosine_sim) AS bwd_mean FROM rb
        WHERE rb <= 4 GROUP BY 1),
best AS (SELECT src_id, tgt_id, cosine_sim FROM rf WHERE rf = 1)
SELECT b.src_id, b.tgt_id, b.cosine_sim,
       round(b.cosine_sim / (0.5 * f.fwd_mean + 0.5 * w.bwd_mean), 4)
         AS margin
FROM best b JOIN fwd f USING (src_id) JOIN bwd w USING (tgt_id)
WHERE round(b.cosine_sim / (0.5 * f.fwd_mean + 0.5 * w.bwd_mean), 4) >= 1.0
""",
)
def q_bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual bitext mining (operators/similarity.py:
    margin_mined_pairs): en-probe x de-corpus cosine block, Artetxe-
    Schwenk ratio margin, best pair per source at margin >= 1.0. At
    100 TB the probe side is IVF-routed (SCALE.md §10); here it is the
    bounded doc_id%10 slice, and every stage after the block is a
    rank<=k window + two tiny broadcast aggs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.join(
        docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 10 == 0)),
        F.col("doc_id") == F.col("vec_id"),
        "left_semi",
    )
    tgt = emb.join(
        docs.filter(F.col("lang") == "de"),
        F.col("doc_id") == F.col("vec_id"),
        "left_semi",
    )
    return sim.margin_mined_pairs(src, tgt, k=4, threshold=1.0)


def _ivf_pq_oracle_sql(
    n_cells: int = 8,
    coarse_iters: int = 3,
    nprobe: int = 3,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 5,
    rerank: int | None = None,
) -> str:
    """DuckDB replay of the full IVFPQ index build + search: the coarse
    Lloyd's fit routes (probe CTE), the m per-subspace fits quantize
    (ADC terms), and the search scores ONLY rows of probed cells — the
    exact composition ivf_pq_topk executes. With ``rerank`` set, ``topk``
    is the ADC shortlist size k' and the output is the exact-cosine
    rescore of the shortlist cut to ``rerank`` rows per query
    (ivf_pq_rerank_topk)."""
    d = dim // m
    # Coarse fit (src="emb" emits the emb CTE itself):
    # a{coarse_iters} = (vec_id, v, cell), c{coarse_iters} = centroids
    # (default suffix — distinct from the _s{s} subspace names).
    parts = _kmeans_cells_sql(n_cells, coarse_iters, dim, src="emb")
    for s in range(m):
        lo, hi = s * d + 1, (s + 1) * d
        parts.append(f"emb_s{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM emb)")
        parts.extend(
            _kmeans_cells_sql(k, iters, d, src=f"emb_s{s}", suffix=f"_s{s}")
        )
    parts.append(
        "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0)"
    )
    parts.append(
        f"""probe AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_d2_sql('q.qv', 'c.v')}, c.cell) AS prn
    FROM q CROSS JOIN c{coarse_iters} c) WHERE prn <= {nprobe}
)"""
    )
    code_joins = " ".join(
        f"JOIN a{iters}_s{s} cs{s} USING (vec_id)" for s in range(1, m)
    )
    cb_joins = " ".join(
        f"JOIN c{iters}_s{s} cb{s} ON cb{s}.cell = cs{s}.cell" for s in range(m)
    )
    adc_terms = " + ".join(
        _d2_sql(f"p.qv[{s * d + 1}:{(s + 1) * d}]", f"cb{s}.v")
        for s in range(m)
    )
    parts.append(
        f"""adc AS (
  SELECT p.query_id, cs0.vec_id AS neighbor_id,
    round({adc_terms}, 4) AS adc_d2
  FROM a{coarse_iters} coarse
  JOIN a{iters}_s0 cs0 USING (vec_id) {code_joins} {cb_joins}
  JOIN probe p ON p.cell = coarse.cell
  WHERE p.query_id <> cs0.vec_id)"""
    )
    if rerank is None:
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
SELECT query_id, neighbor_id, adc_d2, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, adc_d2,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_d2, neighbor_id) AS rn
  FROM adc) WHERE rn <= {topk}"""
        )
    # Rerank variant: the ADC ranking becomes a k'=topk shortlist, then the
    # shortlist rows (ONLY) join back their float vectors for an exact
    # cosine rescore — the refine stage ivf_pq_rerank_topk executes.
    cos = (
        "round(list_inner_product(q.qv, e.v)"
        " / (sqrt(list_inner_product(q.qv, q.qv))"
        " * sqrt(list_inner_product(e.v, e.v))), 4)"
    )
    parts.append(
        f"""short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_d2, neighbor_id) AS rn
    FROM adc) WHERE rn <= {topk}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INTEGER) AS rank FROM (
  SELECT s.query_id, s.neighbor_id, {cos} AS cosine_sim,
    row_number() OVER (PARTITION BY s.query_id
                       ORDER BY {cos} DESC, s.neighbor_id) AS rn
  FROM short s
  JOIN emb e ON e.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id) WHERE rn <= {rerank}"""
    )


@register("ivf_pq_topk", oracle=_ivf_pq_oracle_sql())
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition (faiss IVFPQ — operators/
    quantize.py:ivf_pq_topk): coarse IVF routing bounds which rows are
    scored (nprobe=3 of 8 cells), PQ asymmetric distance bounds what is
    read to score them (16-bit codes, float corpus stays on disk). The
    oracle replays the coarse fit, all four subspace fits, routing and
    ADC ranking in unrolled SQL."""
    from ecommerce_data_pipeline_spark.operators.quantize import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


@register("ivf_pq_rerank_topk", oracle=_ivf_pq_oracle_sql(topk=20, rerank=5))
def q_ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ + exact rerank (operators/quantize.py:ivf_pq_rerank_topk —
    faiss's refine/IVFPQR pattern): the lossy 20-candidate ADC shortlist
    is rescored with exact cosine over the shortlist's float vectors only
    (broadcast-joined — the corpus's wide vector column is read for
    |Q|×20 rows, never shuffled), cut to the final top-5. The oracle
    extends the IVFPQ replay with the shortlist + rerank CTEs."""
    from ecommerce_data_pipeline_spark.operators.quantize import (
        ivf_pq_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_rerank_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


@register(
    "embedding_drift_by_label",
    # Snapshot halves by vec_id parity; the oracle replays the tagged
    # union → per-(half,label,component) means → ordered list rebuild →
    # cosine, the same unnest-zip pattern as the k-means replay.
    oracle="""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
tag AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 'old' ELSE 'new' END AS half,
         label, v
  FROM emb
),
comp AS (
  SELECT half, label, unnest(generate_series(1, len(v))) AS i,
         unnest(v) AS x
  FROM tag
),
cent AS (
  SELECT half, label, list(m ORDER BY i) AS c FROM (
    SELECT half, label, i, avg(x) AS m FROM comp GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
cnt AS (SELECT half, label, count(*) AS n FROM tag GROUP BY 1, 2),
side AS (SELECT * FROM cent JOIN cnt USING (half, label)),
o AS (SELECT label, c, n FROM side WHERE half = 'old'),
nn AS (SELECT label, c, n FROM side WHERE half = 'new')
SELECT coalesce(o.label, nn.label) AS label,
  CAST(coalesce(o.n, 0) AS BIGINT) AS n_old,
  CAST(coalesce(nn.n, 0) AS BIGINT) AS n_new,
  round(list_inner_product(o.c, nn.c)
        / (sqrt(list_inner_product(o.c, o.c))
           * sqrt(list_inner_product(nn.c, nn.c))), 4) AS centroid_cosine
FROM o FULL OUTER JOIN nn ON o.label = nn.label
""",
)
def q_embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor (operators/similarity.py:centroid_drift):
    per-label centroid cosine between the vec_id-parity snapshot halves.
    One corpus read, one (half,label,component) hash agg — monitor state
    is 2 × labels × dim doubles at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 != 0),
    )


@register(
    "ndcg_label_retrieval",
    # Retrieval-quality eval beyond recall: binary relevance = neighbor
    # shares the query's label; nDCG@10 with the standard local IDCG
    # (ideal ordering of the retrieved set). Ranking replayed exactly as
    # in the recall oracles (cosine rounded 4, neighbor-id tiebreak).
    oracle="""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
      FROM emb WHERE vec_id % 50 = 0),
ranked AS (
  SELECT query_id, q_label, neighbor_id, n_label, rank FROM (
    SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
      e.label AS n_label,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        round(list_inner_product(q.qv, e.v)
          / (sqrt(list_inner_product(q.qv, q.qv))
             * sqrt(list_inner_product(e.v, e.v))), 4) DESC,
        e.vec_id) AS rank
    FROM q JOIN emb e ON e.vec_id <> q.query_id)
  WHERE rank <= 10
),
per_q AS (
  SELECT query_id,
    sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS n_rel,
    sum(CASE WHEN n_label = q_label
        THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg
  FROM ranked GROUP BY 1
)
SELECT query_id, CAST(n_rel AS BIGINT) AS n_rel,
  coalesce(round(dcg / nullif(
    list_sum([1.0 / log2(i + 1) for i in generate_series(1, CAST(n_rel AS BIGINT))]), 0.0),
    4), 0.0) AS ndcg
FROM per_q
""",
)
def q_ndcg_label_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of exact cosine retrieval under label relevance — the
    ranking-quality eval next to ann_recall_report's set-overlap recall.
    Composition of existing parts: cosine_topk (WindowGroupLimit
    local top-k) + two label equi-joins + per-query closed-form IDCG
    (aggregate over sequence — no second ranking pass)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_set = emb.filter(F.col("vec_id") % 50 == 0)
    topk = sim.cosine_topk(emb, q_set, k=10)
    n_lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    q_lab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    j = topk.join(n_lab, "neighbor_id").join(F.broadcast(q_lab), "query_id")
    rel = (F.col("n_label") == F.col("q_label")).cast("int")
    per_q = j.groupBy("query_id").agg(
        F.sum(rel).cast("long").alias("n_rel"),
        F.sum(rel * (F.lit(1.0) / F.log2(F.col("rank") + 1))).alias("dcg"),
    )
    idcg = F.when(
        F.col("n_rel") > 0,
        F.aggregate(
            F.sequence(F.lit(1), F.col("n_rel").cast("int")),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / F.log2(i + 1),
        ),
    )
    return per_q.select(
        "query_id",
        "n_rel",
        F.coalesce(
            F.round(F.col("dcg") / F.nullif(idcg, F.lit(0.0)), 4), F.lit(0.0)
        ).alias("ndcg"),
    )


@register(
    "retrieve_rerank_prf",
    # The production retrieve-then-rerank shape (distinct from
    # hybrid_rrf_search's rank FUSION): BM25 recalls 20 lexical
    # candidates, the top-3 WITH embeddings act as pseudo-relevant docs
    # (Rocchio PRF), their centroid becomes the dense query, and the
    # candidate set alone is rescored by cosine to it. Corpus-scale work
    # is exactly the BM25 inverted-index pass; everything dense touches
    # <= 20 rows.
    oracle=f"""
WITH {_TOKS_SQL},
q AS (SELECT doc_id, token, tf FROM tfreq
      WHERE token IN ('spark', 'join', 'stream')),
dfreq AS (SELECT token, count(*) AS df FROM q GROUP BY 1),
dl AS (
  SELECT doc_id, len(list_filter(
    string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
    w -> w <> '')) AS dl
  FROM documents
),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
bm AS (
  SELECT doc_id, round(sum(
    ln(1.0 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5))
      * (q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
  ), 4) AS bm25_score
  FROM q JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY 1
),
cand AS (
  SELECT doc_id, bm25_score FROM (
    SELECT *, row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS rn
    FROM bm) WHERE rn <= 20
),
wv AS (
  SELECT c.doc_id, c.bm25_score, CAST(e.embedding AS DOUBLE[]) AS v
  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id
),
prf AS (
  SELECT v FROM (
    SELECT v, row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS rn
    FROM wv) WHERE rn <= 3
),
centroid AS (
  SELECT list(m ORDER BY i) AS c FROM (
    SELECT i, avg(x) AS m FROM (
      SELECT unnest(generate_series(1, len(v))) AS i, unnest(v) AS x
      FROM prf)
    GROUP BY i)
)
SELECT doc_id, bm25_score, dense_score, CAST(rn AS INTEGER) AS rank FROM (
  SELECT wv.doc_id, wv.bm25_score,
    round(list_inner_product(wv.v, c.c)
      / (sqrt(list_inner_product(wv.v, wv.v))
         * sqrt(list_inner_product(c.c, c.c))), 4) AS dense_score,
    row_number() OVER (ORDER BY
      round(list_inner_product(wv.v, c.c)
        / (sqrt(list_inner_product(wv.v, wv.v))
           * sqrt(list_inner_product(c.c, c.c))), 4) DESC, wv.doc_id) AS rn
  FROM wv CROSS JOIN centroid c) WHERE rn <= 5
""",
)
def q_retrieve_rerank_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank with pseudo-relevance feedback: BM25 top-20
    for {spark, join, stream} -> the top-3 candidates' embedding centroid
    is the dense query (Rocchio PRF) -> exact-cosine rerank of the
    candidate set to top-5. One inverted-index pass at corpus scale; the
    dense stage reads <= 20 embedding rows via an equi-join on the
    candidate ids; the centroid is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    cand = tx.bm25_search(docs, ["spark", "join", "stream"], top_n=20).select(
        "doc_id", F.col("score").alias("bm25_score")
    )
    wv = cand.join(
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        ),
        "doc_id",
    ).localCheckpoint(eager=True)  # tiny (<=20 rows); feeds prf AND rerank
    rn = Window.orderBy(F.col("bm25_score").desc(), "doc_id")
    prf = wv.withColumn("rn", F.row_number().over(rn)).filter("rn <= 3")
    centroid = (
        prf.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
    )
    from ecommerce_data_pipeline_spark.operators.similarity import _dot, _norm

    scored = wv.crossJoin(F.broadcast(centroid)).select(
        "doc_id",
        "bm25_score",
        F.round(
            _dot(F.col("v"), F.col("c"))
            / (_norm(F.col("v")) * _norm(F.col("c"))),
            4,
        ).alias("dense_score"),
    )
    w = Window.orderBy(F.col("dense_score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "bm25_score", "dense_score", "rank")
    )


@register(
    "user_activity_similarity",
    oracle="""
WITH cnts AS (
  SELECT user_id, CAST(extract(hour FROM ts) AS INT) AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
users AS (SELECT DISTINCT user_id FROM events),
hours AS (SELECT unnest(generate_series(0, 23)) AS h),
prof AS (
  SELECT u.user_id, list(CAST(coalesce(c.c, 0) AS DOUBLE) ORDER BY hh.h) AS v
  FROM users u CROSS JOIN hours hh
  LEFT JOIN cnts c ON c.user_id = u.user_id AND c.h = hh.h
  GROUP BY u.user_id),
probes AS (SELECT user_id AS query_id, v AS qv FROM prof WHERE user_id % 50 = 0),
scored AS (
  SELECT p.query_id, f.user_id AS neighbor_id,
    round(list_inner_product(p.qv, f.v)
      / (sqrt(list_inner_product(p.qv, p.qv))
         * sqrt(list_inner_product(f.v, f.v))), 4) AS cosine_sim
  FROM probes p JOIN prof f ON f.user_id <> p.query_id)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 3
""",
)
def q_user_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over BEHAVIORAL fingerprints (the
    similarity-search-on-streams shape of the retrieved EDBT'19/SIGMOD'20
    papers, re-expressed relationally): each user's activity becomes a
    24-dim hour-of-day profile vector — ONE hash aggregation of 24
    conditional sums, map-side partial, no pivot shuffle — and the top-3
    most-similar users per probe ride the existing exact cosine engine
    (WindowGroupLimit pre-reduce before the exchange). The point: once a
    time series is reduced to a fixed-length profile, EVERY similarity
    operator in the engine (exact, IVF, PQ, near-dup) applies to it
    unchanged — vectors don't care whether they came from an embedding
    model or a GROUP BY.

    Scale: the profile table is |users| x 24 doubles (thousands of times
    smaller than events); probes are a bounded modulus (the fixed-probe
    policy, SCALE.md §10). Deterministic: round-4 cosine then id
    tiebreak, identical in the DuckDB replay."""
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy("user_id").agg(
        F.array(
            *[
                F.sum(F.when(F.hour("ts") == h, 1).otherwise(0)).cast("double")
                for h in range(24)
            ]
        ).alias("profile")
    )
    probes = prof.filter(F.col("user_id") % 50 == 0)
    return sim.cosine_topk(prof, probes, k=3, id_col="user_id", vec_col="profile")


@register("postings_inflight_reader", oracle=_POSTINGS_VACUUM_READ_ORACLE)
def q_postings_inflight_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reader-vs-vacuum concurrency contract as a certified query
    (VERDICT r12 ask #4's query leg; test twin at
    tests/test_round13_new.py::test_inflight_read_postings_survives_vacuum):
    a ``read_postings`` snapshot scan whose file index is resolved BEFORE
    ``vacuum_postings(min_age_sec=0)`` runs completes EXACTLY after it.
    The contract holds by construction — the snapshot selects only
    non-tombstoned dirs and vacuum deletes only tombstoned dirs, disjoint
    sets — and the oracle hash certifies the completed scan row-for-row.

    Sequence: 4 micro-batch posting writes → retained compaction
    (tombstones live) → snapshot reader materializes its plan + file
    index → zero-retention vacuum reclaims all 4 inputs under the reader
    → the reader's scan completes and is hashed. At 100 TB this is the
    invariant that lets maintenance vacuum run while a probe fleet scans:
    snapshot readers never reference reclaimable files, so retention only
    has to outlive RAW readers (the contrapositive is pinned by
    test_inflight_raw_reader_is_why_retention_exists)."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark.operators.postings import (
        compact_postings,
        read_postings,
        vacuum_postings,
        write_posting_batches,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        "vec_id", F.expr("CAST((vec_id DIV 4) % 8 AS INT)").alias("cell")
    )
    root = tempfile.mkdtemp(prefix="postings_inflight_")
    try:
        out = f"{root}/postings"
        # Independent micro-batch dirs — pooled writes (guide §2.6, r17).
        write_posting_batches(
            (
                (assigned.filter(F.col("vec_id") % 4 == i), i)
                for i in range(4)
            ),
            out,
        )
        stats = compact_postings(
            spark, out, file_threshold=4, retain_inputs=True
        )
        if not stats["compacted"]:
            raise AssertionError(f"compaction did not run: {stats}")
        # Snapshot reader: force analysis + file-index resolution NOW,
        # before the vacuum — this is the in-flight scan. inputFiles()
        # resolves the same file index explain() did without printing a
        # plan into the bench's stdout (r17; the driver keeps only a
        # bounded stdout tail, so plan noise risks truncating the one
        # JSON line that matters).
        snap = read_postings(spark, out)
        if not snap.inputFiles():
            raise AssertionError("snapshot reader resolved no files")
        vac = vacuum_postings(spark, out, min_age_sec=0)
        if len(vac["removed"]) != 4:
            raise AssertionError(f"vacuum did not reclaim inputs: {vac}")
        # Complete the in-flight scan AFTER the vacuum; hash it.
        return (
            snap.groupBy(F.col("cell").cast("int").alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(F.col("vec_id") % 1000000).alias("id_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
