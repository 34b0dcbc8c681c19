"""Similarity search over embedding columns (engine extension).

Brute-force cosine top-k as the exactness baseline, and cell-pruned
(IVF-style) variants. All vector math is built-in array expressions
(zip_with + aggregate) — JVM-side, no Python UDF, no shuffle for the math
itself.

Every vector top-k in the engine ends in one ranker, ``rank_topk``: a
``row_number`` over ``query_id`` filtered to rank <= k. Spark's
WindowGroupLimit rule recognizes that shape and keeps each partition's
local top-k per query before the exchange (Sort + WindowGroupLimit
Partial below the Exchange), so the shuffle moves at most
|Q| * k * n_partitions rows, not the |Q| * |corpus| scored pairs.
``cosine_rank`` is the cosine-scored front of it.

Scale notes (100 TB / billions of vectors):
- brute force scores map-side (broadcast of the small query set — no
  shuffle to score); the scoring WORK is still |Q| * |corpus|, so it is
  the verifier / small-|Q| path.
- the scale path prunes the corpus to the query's cells before scoring
  (``topk_within_cells``), so the scoring work shrinks by ~nprobe/n_cells.
  Cells come from a coarse quantizer: the k-means fits in
  operators/quantize.py, or any precomputed cell column (``ivf_topk``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, rounded to 4dp (the
    rounding both stabilizes fp-summation order and matches the oracle)."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 4)


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def rank_topk(scored: DataFrame, k: int, score: Column) -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, score) frame: rank by
    ``score`` (a sort order, e.g. ``F.col("cosine_sim").desc()``) with a
    neighbor_id tiebreak for determinism, keep rank <= k. Output: the
    scored columns plus ``rank``."""
    w = Window.partitionBy("query_id").orderBy(score, F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_rank(pairs: DataFrame, k: int) -> DataFrame:
    """Score candidate pairs — (query_id, neighbor_id, q_vec, qn, n_vec,
    nn), norms precomputed per vector — by 4-dp cosine (the oracle's
    dot/(qn*nn) shape) and keep each query's top-k.
    Output: (query_id, neighbor_id, cosine_sim, rank)."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q_vec"), F.col("n_vec")) / (F.col("qn") * F.col("nn")), 4
        ).alias("cosine_sim"),
    )
    return rank_topk(scored, k, F.col("cosine_sim").desc())


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); self-matches are
    excluded. Ties broken by neighbor id for determinism; the per-query
    top-k is ``rank_topk``'s, so the shuffle carries only each scan
    partition's local top-k.
    Output: (query_id, neighbor_id, cosine_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("qn", _norm(F.col("q_vec")))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("n_vec")
    ).withColumn("nn", _norm(F.col("n_vec")))
    return cosine_rank(
        v.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    cosine >= threshold.

    With ``cell_col`` set (an IVF/LSH bucket id), candidates are generated
    only within cells — the 100 TB shape (near-dups at 0.95+ cosine land in
    the same coarse cell for any reasonable quantizer; cross-cell misses are
    the recall trade-off every production ANN dedup makes). Without it the
    join is the exact quadratic baseline for verifier-scale corpora.
    Output: (vec_id_a, vec_id_b, cosine_sim).
    """
    # Single-file test corpora scan as one partition; the probe side drives
    # join parallelism, so fan it out (no-op at multi-file scale).
    spread = vectors.repartition(
        vectors.sparkSession.sparkContext.defaultParallelism
    )
    # Hoist the norm to a per-vector column: the quadratic stage then does
    # one dot product + one divide per pair instead of re-deriving both
    # norms (3x the array work) 2M times. Same expression shape as the
    # oracle (dot/(norm_a*norm_b)) so 4dp rounding stays bit-compatible.
    a = spread.select(
        F.col(id_col).alias("vec_id_a"),
        _as_double(F.col(vec_col)).alias("va"),
        *([F.col(cell_col).alias("cell")] if cell_col else []),
    ).withColumn("na", _norm(F.col("va")))
    b = vectors.select(
        F.col(id_col).alias("vec_id_b"),
        _as_double(F.col(vec_col)).alias("vb"),
        *([F.col(cell_col).alias("cell")] if cell_col else []),
    ).withColumn("nb", _norm(F.col("vb")))
    cond = F.col("vec_id_a") < F.col("vec_id_b")
    if cell_col:
        pairs = a.join(b, "cell").filter(cond)
    else:
        pairs = a.join(b, cond)
    return (
        pairs.withColumn(
            "cosine_sim",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("vec_id_a", "vec_id_b", "cosine_sim")
    )


def topk_within_cells(corpus: DataFrame, probed: DataFrame, k: int = 5) -> DataFrame:
    """Score routed probes against a cell-assigned corpus and keep the
    top-k per probe. ``corpus`` carries (neighbor_id, n_vec, cell) —
    from ``assign_cells``, a precomputed cell column, or read back from a
    cell-partitioned posting layout (operators/postings.py) — and
    ``probed`` carries (query_id, q_vec, qn, cell), e.g.
    ``multiprobe_route`` output. Same output shape as cosine_topk."""
    pairs = (
        corpus.withColumn("nn", _norm(F.col("n_vec")))
        .join(F.broadcast(probed), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return cosine_rank(pairs, k)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style ANN over a precomputed cell column: score only vectors in
    the query's cell (``topk_within_cells`` with one probe per query).

    ``cell_col`` plays the role of the coarse-quantizer centroid id; the
    join on cell id makes the scored set 1/n_cells of the corpus. Same
    output shape as cosine_topk.
    """
    corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("n_vec"),
        F.col(cell_col).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q_vec"),
        F.col(cell_col).alias("cell"),
    ).withColumn("qn", _norm(F.col("q_vec")))
    return topk_within_cells(corpus, probed, k)


def embedding_near_dup_pairs_blocked(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dup pairs via **block-matrix
    multiplication** — same result set as ``embedding_near_dup_pairs``,
    restructured for throughput.

    This is the one place Pandas beats built-ins by design: higher-order
    array expressions (zip_with/aggregate) are interpreted per element, so
    an exact O(n^2 * d) pair scan pays ~d interpreter steps per pair. Here
    vectors land in ``n_blocks`` hash blocks, every block-pair (i <= j)
    becomes ONE applyInPandas task, and the task computes the whole
    |bi| x |bj| cosine matrix as a single BLAS matmul over Arrow-delivered
    batches — ~100x less per-pair overhead, identical 4dp-rounded values.

    Scale shape: each vector is replicated to its (n_blocks - blk + blk + 1)
    partner block-pairs => total shuffled rows n*(n_blocks+1) — the standard
    sqrt-replication cross-product; pick n_blocks ~ sqrt(cluster cores) so
    block pairs ~ cores. Per-task memory is two (n/n_blocks) x d float64
    panels. The quadratic WORK is inherent to the exact baseline; the
    bucketed variant (cell_col on embedding_near_dup_pairs) stays the
    recall-tradeoff scale path.
    """
    n_blocks = int(n_blocks)
    thr = float(threshold)

    def _block_pairs(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["role"] == 0]
        b = pdf[pdf["role"] == 1]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(
                {"vec_id_a": pd.Series(dtype="int64"),
                 "vec_id_b": pd.Series(dtype="int64"),
                 "cosine_sim": pd.Series(dtype="float64")}
            )
        A = np.vstack(a["vec"].to_numpy())
        B = np.vstack(b["vec"].to_numpy())
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        S = (A @ B.T) / (na[:, None] * nb[None, :])
        S = np.round(S, 4)
        ia, ib = np.nonzero(S >= thr)
        ids_a = a["vid"].to_numpy()[ia]
        ids_b = b["vid"].to_numpy()[ib]
        sims = S[ia, ib]
        diagonal = pdf["pi"].iloc[0] == pdf["pj"].iloc[0]
        if diagonal:
            # Both orientations (and self-pairs) present: keep a < b once.
            keep = ids_a < ids_b
            lo, hi = ids_a[keep], ids_b[keep]
            sims = sims[keep]
        else:
            # Disjoint blocks: each unordered pair appears exactly once;
            # orient to (min, max).
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi, "cosine_sim": sims})

    v = vectors.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("blk", F.pmod(F.hash("vid"), F.lit(n_blocks)))
    a_side = v.withColumn(
        "pj", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1)))
    ).select(F.col("blk").alias("pi"), "pj", F.lit(0).alias("role"), "vid", "vec")
    b_side = v.withColumn(
        "pi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("pi", F.col("blk").alias("pj"), F.lit(1).alias("role"), "vid", "vec")
    return (
        a_side.unionByName(b_side)
        .groupBy("pi", "pj")
        .applyInPandas(
            _block_pairs, "vec_id_a long, vec_id_b long, cosine_sim double"
        )
    )


def mmr_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    k_candidates: int = 20,
    k_select: int = 5,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank: exact top-k_candidates cosine
    retrieval per query, then the greedy MMR selection
    ``argmax lam*rel(d) - (1-lam)*max_{s in S} sim(d, s)``.

    Scale: the retrieval stage is cosine_topk (WindowGroupLimit local
    top-k); everything after operates on |Q|*k_candidates candidate
    rows and |Q|*k_candidates^2 pairwise-sim rows — linear in the query
    count, independent of corpus size.

    The greedy selection itself runs per query over a bounded block
    (k_candidates rows + k_candidates² sims), so it is grouped into ONE
    Arrow pass (r16 optimization, guide §1.2/§2.6: the previous
    formulation unrolled k_select DataFrame iterations, each an
    anti-join + join + agg + window + eager localCheckpoint — ~3 jobs
    per step of pure scheduling overhead on tiny frames; measured 3.8 s
    → the grouped pass collapses the chain to two shuffles). This is
    the documented extension-layer Arrow exception (same rationale as
    dedup._profile_buckets): the per-query loop is inherently
    sequential in sel_rank, bounded in size, and numpy/python executes
    it in microseconds per query.

    Cross-engine determinism: rel and pairwise sims are rounded to 4dp
    (cosine discipline) IN THE JVM before crossing to Arrow — the
    kernel does only lookups, IEEE multiply/subtract on those rounded
    doubles (identical ops to the old per-step expression), and
    comparisons; argmax ties break on candidate id, matching the old
    row_number ordering. Inner-join semantics are preserved: a
    candidate with no pair row against the selected set is skipped, and
    a query whose pair block is exhausted stops emitting (the old
    step-join produced no row).
    Output: (query_id, neighbor_id, sel_rank, relevance).
    """
    cand = (
        cosine_topk(vectors, queries, k=k_candidates, id_col=id_col, vec_col=vec_col)
        .select(
            "query_id",
            F.col("neighbor_id").alias("cand_id"),
            F.col("cosine_sim").alias("rel"),
        )
        .localCheckpoint(eager=False)
    )
    v = vectors.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", _norm(F.col("vec")))
    ca = cand.join(v, cand.cand_id == v.vid).select("query_id", "cand_id", "vec", "nrm")
    a = ca.select(
        "query_id",
        F.col("cand_id").alias("a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = ca.select(
        "query_id",
        F.col("cand_id").alias("b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pair = (
        a.join(b, ["query_id"])
        .filter(F.col("a") != F.col("b"))
        .withColumn(
            "sim",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4),
        )
        .select("query_id", "a", "b", "sim")
    )
    gc = cand.groupBy("query_id").agg(
        F.collect_list(F.struct("cand_id", "rel")).alias("cands")
    )
    gp = pair.groupBy("query_id").agg(
        F.collect_list(F.struct("a", "b", "sim")).alias("sims")
    )
    grouped = gc.join(gp, "query_id", "left")
    qid_t = dict(cand.dtypes)["query_id"]
    cid_t = dict(cand.dtypes)["cand_id"]
    out_schema = (
        f"query_id {qid_t}, neighbor_id {cid_t}, sel_rank int, relevance double"
    )

    def _greedy(batches):
        import pandas as pd

        for pdf in batches:
            q_o, n_o, k_o, r_o = [], [], [], []
            for qid, cands, sims in zip(
                pdf["query_id"], pdf["cands"], pdf["sims"]
            ):
                cl = sorted(
                    ((c["cand_id"], c["rel"]) for c in cands),
                    key=lambda t: t[0],
                )
                simd = {}
                # sims is None/NaN when the left join found no pair block
                # (single-candidate query).
                if sims is not None and not (
                    isinstance(sims, float) and pd.isna(sims)
                ):
                    for s in sims:
                        if s["sim"] is not None and not pd.isna(s["sim"]):
                            simd[(s["a"], s["b"])] = s["sim"]
                # step 1: argmax rel, ties to the smallest cand_id (cl is
                # id-sorted, so a strict > keeps the first/lowest id).
                # Null/NaN relevance (a NULL or uncastable embedding makes
                # cosine_topk emit rel NULL; a NaN component makes it NaN)
                # is defined OUT of the selection entirely (ADVICE r16):
                # the old window formulation ordered nulls last — only
                # reachable when fewer than k_select clean candidates
                # exist — and its NaN ordering was an accident of Spark's
                # NaN-greatest desc sort. Dirty candidates are skipped, so
                # the kernel never compares None/NaN with '>' (the crash
                # the advice reproduced) and never emits a dirty rel.
                best_id, best_rel = None, None
                for cid, rel in cl:
                    if rel is None or rel != rel:  # None or NaN
                        continue
                    if best_rel is None or rel > best_rel:
                        best_id, best_rel = cid, rel
                if best_id is None:
                    continue  # no clean candidate at all
                sel = [(best_id, best_rel)]
                picked = {best_id}
                q_o.append(qid); n_o.append(best_id)
                k_o.append(1); r_o.append(best_rel)
                for step in range(2, k_select + 1):
                    nxt = None  # (score, cand_id, rel)
                    for cid, rel in cl:
                        if cid in picked or rel is None or rel != rel:
                            continue
                        mx = None
                        for sid, _ in sel:
                            s = simd.get((cid, sid))
                            if s is not None and (mx is None or s > mx):
                                mx = s
                        if mx is None:
                            continue  # inner-join semantics: no pair row
                        score = rel * lam - mx * (1.0 - lam)
                        if nxt is None or score > nxt[0]:
                            nxt = (score, cid, rel)
                    if nxt is None:
                        break
                    sel.append((nxt[1], nxt[2]))
                    picked.add(nxt[1])
                    q_o.append(qid); n_o.append(nxt[1])
                    k_o.append(step); r_o.append(nxt[2])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(q_o, dtype="object"),
                    "neighbor_id": pd.Series(n_o, dtype="object"),
                    "sel_rank": pd.Series(k_o, dtype="int32"),
                    "relevance": pd.Series(r_o, dtype="float64"),
                }
            )

    return grouped.mapInPandas(_greedy, out_schema)


def margin_mined_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ratio-margin bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix criterion): for each source vector, its best target
    neighbor scored by cos(x,y) normalized by the mean of both
    directions' top-k neighborhoods —

        margin(x, y) = cos(x, y) /
            (0.5 * mean_topk_t cos(x, t) + 0.5 * mean_topk_s cos(s, y))

    which suppresses hub vectors that are near everything. ``src`` is
    the bounded probe side (broadcast, same policy as cosine_topk /
    video_frame_topk — at production scale the caller routes candidates
    through IVF cells first, SCALE.md §10); ``tgt`` streams. The
    backward mean is computed within the probe block (the standard
    mined-margin-in-candidate-block practice).

    One broadcast join builds the scored block; both directional top-k
    means are rank<=k aggregates off that SAME frame (two small keyed
    aggs, broadcast back); the final frame keeps each source's argmax
    pair with margin >= threshold. All JVM expressions.

    Output: (src_id, tgt_id, cosine_sim, margin).
    """
    s = src.select(
        F.col(id_col).alias("src_id"), _as_double(F.col(vec_col)).alias("s_vec")
    ).withColumn("sn", _norm(F.col("s_vec")))
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), _as_double(F.col(vec_col)).alias("t_vec")
    ).withColumn("tn", _norm(F.col("t_vec")))
    scored = (
        t.join(F.broadcast(s))
        .withColumn(
            "cosine_sim",
            F.round(
                _dot(F.col("s_vec"), F.col("t_vec"))
                / (F.col("sn") * F.col("tn")),
                4,
            ),
        )
        .select("src_id", "tgt_id", "cosine_sim")
        .localCheckpoint(eager=False)
    )
    wf = Window.partitionBy("src_id").orderBy(
        F.col("cosine_sim").desc(), F.col("tgt_id")
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine_sim").desc(), F.col("src_id")
    )
    fwd = (
        scored.withColumn("rf", F.row_number().over(wf))
        .filter(F.col("rf") <= k)
        .groupBy("src_id")
        .agg(F.avg("cosine_sim").alias("fwd_mean"))
    )
    bwd = (
        scored.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= k)
        .groupBy("tgt_id")
        .agg(F.avg("cosine_sim").alias("bwd_mean"))
    )
    best = (
        scored.withColumn("rf", F.row_number().over(wf))
        .filter(F.col("rf") == 1)
        .drop("rf")
    )
    return (
        best.join(F.broadcast(fwd), "src_id")
        .join(F.broadcast(bwd), "tgt_id")
        .withColumn(
            "margin",
            F.round(
                F.col("cosine_sim")
                / (0.5 * F.col("fwd_mean") + 0.5 * F.col("bwd_mean")),
                4,
            ),
        )
        .filter(F.col("margin") >= threshold)
        .select("src_id", "tgt_id", "cosine_sim", "margin")
    )


def centroid_drift(
    old: DataFrame,
    new: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift monitor: per label, the cosine between the
    OLD corpus snapshot's centroid and the NEW one's — the embedding twin
    of the PSI quality-drift monitors (a re-embedded or re-crawled source
    shows up as a centroid rotation long before downstream eval moves).

    Scale shape: one posexplode over both snapshots (tagged union) → one
    (half, label, component) hash aggregation → centroids rebuilt with an
    ordered collect over ``dim`` rows per (half, label) — state is
    2 × n_labels × dim doubles regardless of corpus size; the corpus is
    read once, map-side.

    Output: (label, n_old, n_new, centroid_cosine) — cosine NULL when a
    label exists in only one snapshot.
    """
    tagged = old.select(
        F.lit("old").alias("half"),
        F.col(label_col).alias("label"),
        _as_double(F.col(vec_col)).alias("v"),
    ).unionByName(
        new.select(
            F.lit("new").alias("half"),
            F.col(label_col).alias("label"),
            _as_double(F.col(vec_col)).alias("v"),
        )
    )
    comp = tagged.select(
        "half", "label", F.posexplode("v").alias("i", "x")
    )
    cent = (
        comp.groupBy("half", "label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("half", "label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
    )
    cnt = tagged.groupBy("half", "label").agg(F.count(F.lit(1)).alias("n"))
    side = cent.join(cnt, ["half", "label"])
    o = side.filter(F.col("half") == "old").select(
        F.col("label").alias("l_old"), F.col("c").alias("c_old"),
        F.col("n").alias("n_old"),
    )
    n_ = side.filter(F.col("half") == "new").select(
        F.col("label").alias("l_new"), F.col("c").alias("c_new"),
        F.col("n").alias("n_new"),
    )
    j = o.join(n_, F.col("l_old") == F.col("l_new"), "full_outer")
    return j.select(
        F.coalesce("l_old", "l_new").alias("label"),
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.round(
            _dot(F.col("c_old"), F.col("c_new"))
            / (_norm(F.col("c_old")) * _norm(F.col("c_new"))),
            4,
        ).alias("centroid_cosine"),
    )
