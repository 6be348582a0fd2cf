"""Approximate nearest-neighbor search — the 100 TB scale path for
vector similarity (SURVEY.md §2.9 #53; exact baseline in
similarity.py).

IVF (inverted-file) flavor:
  1. pick n_centroids deterministic seed centroids,
  2. assign every vector to its nearest centroid (one broadcast
     "cross join" + max_by — map-side only, no shuffle of the big
     side),
  3. at query time score centroids against the query, keep the top
     nprobe, and brute-force ONLY vectors assigned to those lists.

Cost: scan fraction ~ nprobe/n_centroids of the corpus instead of all
of it. nprobe = n_centroids degrades gracefully to exact search (used
by tests as an equivalence oracle). No .collect() anywhere — the probe
set is itself a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sas_etl_spark.operators.similarity import cosine, cosine_topk, dot, l2_norm


def seed_centroids(
    emb: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid seeds: the n lowest ids. (A k-means
    refinement can replace this without changing the search path.)"""
    return (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
        )
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sim_round_dp: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest (max-cosine) centroid.
    Broadcast nested-loop against the tiny centroid table + max_by
    aggregation; ties broken toward the lower centroid id.

    ``sim_round_dp`` rounds the similarity BEFORE the argmax — the
    cross-engine boundary rule (cosine_topk): an oracle recomputing
    the assignment in another engine can flip raw-double near-ties;
    rounding + the lower-id tiebreak makes the assignment the same
    deterministic function of the inputs everywhere. None (default)
    keeps the raw-double behavior for engine-internal callers."""
    sim = cosine(vec_col, "centroid_vec", dim)
    if sim_round_dp is not None:
        sim = F.round(sim, sim_round_dp)
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        id_col,
        "centroid_id",
        sim.alias("_sim"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by(
            "centroid_id", F.struct(F.col("_sim"), -F.col("centroid_id"))
        ).alias("centroid_id")
    )


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    sim_col: str = "sim",
    dim: int | None = None,
    round_dp: int | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """Top-k by cosine among vectors whose IVF list is one of the
    query's nprobe closest centroids. ``round_dp`` rounds the sim
    before the cut (see cosine_topk — cross-engine boundary rule).
    ``refine_iters`` > 0 runs that many Lloyd iterations
    (kmeans_refine) on the seed centroids before assignment —
    tighter cells buy the same recall from fewer probed lists
    (round-7 measurement: refined nprobe=3 matches-or-beats seed
    nprobe=4 on the uniform fixture at every SF; see SCALE.md)."""
    centroids = seed_centroids(emb, n_centroids, id_col, vec_col)
    if refine_iters > 0:
        centroids = kmeans_refine(emb, centroids, refine_iters, id_col, vec_col, dim)
    assignments = ivf_assign(emb, centroids, id_col, vec_col, dim)
    probes = (
        centroids.crossJoin(F.broadcast(query))
        .select("centroid_id", cosine("centroid_vec", query_vec_col, dim).alias("_qsim"))
        .orderBy(F.desc("_qsim"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    candidate_ids = assignments.join(F.broadcast(probes), "centroid_id").select(id_col)
    candidates = emb.join(candidate_ids, id_col, "left_semi")
    return cosine_topk(
        candidates, query, k, id_col, vec_col, query_vec_col, sim_col, dim, round_dp
    )


def srp_signature(vec_col: str, num_bits: int = 16, dim: int = 64, seed: int = 7) -> "F.Column":
    """Signed-random-projection (hyperplane LSH) signature for cosine:
    bit b = sign of <v, h_b> where h_b is a deterministic pseudo-random
    hyperplane derived from xxhash64(seed, b, i) — no stored model, no
    Python; pure codegen. Vectors with high cosine agree on most bits.
    """
    planes = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(
                        *[
                            (
                                F.xxhash64(F.lit(seed), F.lit(b), F.lit(i)).cast("double")
                                / F.lit(float(2**63))
                            )
                            for i in range(dim)
                        ]
                    ),
                    lambda x, h: x.cast("double") * h,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for b in range(num_bits)
        ]
    )
    return F.aggregate(
        F.zip_with(
            planes,
            F.array(*[F.lit(1 << b).cast("long") for b in range(num_bits)]),
            lambda d, w: F.when(d > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def srp_bucket_candidates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Candidate pairs sharing at least one SRP band bucket — banded
    hyperplane LSH, the same OR-of-ANDs amplification as
    minhash.lsh (round-2 advice #8: a single wide signature is one
    giant AND whose recall collapses for moderately similar vectors).

    Band j gets its own ``bits_per_band`` independent hyperplanes
    (seeded per band — equivalent to slicing one
    n_bands*bits_per_band-plane signature); vectors collide on band j
    iff all its bits agree. Candidates = pairs agreeing on ANY band:
    recall = 1 - (1 - p^b)^n for per-bit agreement
    p = 1 - acos(cos_sim)/pi. At cos 0.9 (p = .857), 8 bands x 8 bits
    give ~0.94 recall vs ~0.08 for the old single 16-bit signature.

    Plan shape: signatures in one scan-side Project, explode to
    (band, sig) rows — n_bands rows per vector, NOT per pair — then a
    self-equi-join on (band, sig) + distinct. Never all-pairs; at
    100 TB band signatures shuffle-partition evenly (they are
    hashes), and exact cosine verification runs on candidates only,
    mirroring the MinHash verify stage."""
    bands = srp_band_signatures(
        emb, id_col=id_col, vec_col=vec_col, n_bands=n_bands,
        bits_per_band=bits_per_band, dim=dim, seed=seed,
    )
    a = bands.select("band", "sig", F.col("_id").alias("a_id"))
    b = bands.select("band", "sig", F.col("_id").alias("b_id"))
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def srp_band_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(id, band, sig) rows — one scan-side Project + explode, n_bands
    rows per vector. Shared by the symmetric (self-join) and
    asymmetric (two-set) candidate generators; both sides of a
    cross-set join MUST use the same (seed, n_bands, bits_per_band)
    for collisions to be meaningful."""
    return emb.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        srp_signature(
                            vec_col, bits_per_band, dim, seed + 7919 * b
                        ).alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def srp_bucket_candidates_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Candidate pairs ACROSS two vector sets sharing any SRP band
    bucket — the asymmetric twin of srp_bucket_candidates, for
    corpus-vs-reference problems (semantic decontamination: 100 TB
    train side vs a fixed-size eval side; cross-corpus near-dup).

    Same banded OR-of-ANDs amplification and recall math as the
    symmetric form; only the pairing changes: left ids join right ids,
    no a<b ordering (the sets are disjoint by construction of the
    caller). The right side is the one to keep small — its band rows
    broadcast when provably bounded (eval sets are fixed-size
    regardless of corpus SF), making the candidate step a map-side
    lookup over the big side: ZERO shuffle of the corpus at any SF.
    """
    from sas_etl_spark.operators.broadcast import broadcast_if_small

    kw = dict(
        id_col=id_col, vec_col=vec_col, n_bands=n_bands,
        bits_per_band=bits_per_band, dim=dim, seed=seed,
    )
    lb = srp_band_signatures(left, **kw).select(
        "band", "sig", F.col("_id").alias("left_id")
    )
    rb = srp_band_signatures(right, **kw).select(
        "band", "sig", F.col("_id").alias("right_id")
    )
    return (
        lb.join(broadcast_if_small(rb), ["band", "sig"])
        .select("left_id", "right_id")
        .distinct()
    )


def kmeans_refine(
    emb: DataFrame,
    centroids: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sim_round_dp: int | None = None,
    mean_round_dp: int | None = None,
) -> DataFrame:
    """Lloyd-iteration refinement of IVF seed centroids, pure
    DataFrame ops: assign every vector to its nearest centroid
    (broadcast + max_by, the existing ivf_assign) then recompute each
    centroid as the elementwise mean of its assigned vectors via
    posexplode -> (centroid, position) avg -> sort_array(collect_list)
    regroup. Per iteration: one broadcast assign (map-side) + two
    hash-shuffles keyed by (centroid, position) / centroid — at 100 TB
    the shuffle rows are (int, int, float) triples, dim x corpus rows,
    all combiner-friendly partial aggs. Empty cells keep their seed
    (standard Lloyd fallback). Output schema matches seed_centroids
    (centroid_id, centroid_vec), so it drops into ivf_topk unchanged;
    cluster-structured corpora get tighter cells -> higher recall at
    the same nprobe (pinned by tests/test_llm_operators.py).

    ``sim_round_dp`` / ``mean_round_dp`` make the whole refinement a
    deterministic cross-engine function (the persisted-index build
    path, build_ivf_index): assignments argmax a ROUNDED cosine (see
    ivf_assign) and each Lloyd mean element is rounded to
    ``mean_round_dp`` decimals in DOUBLE instead of the default
    float32 cast — avg summation order differs between engines, so
    the fixed-decimal round is the cross-engine quantizer (the same
    boundary rule as everywhere else in the registry). Defaults
    (None) keep the existing engine-internal behavior bit-identical.
    """
    refined = centroids
    for _ in range(n_iters):
        assigned = ivf_assign(emb, refined, id_col, vec_col, dim, sim_round_dp)
        if mean_round_dp is not None:
            mean_elt = lambda s: F.round(s["_avg"], mean_round_dp)  # noqa: E731
        else:
            mean_elt = lambda s: s["_avg"].cast("float")  # noqa: E731
        means = (
            emb.join(assigned, id_col)
            .select("centroid_id", F.posexplode(vec_col).alias("_pos", "_val"))
            .groupBy("centroid_id", "_pos")
            .agg(F.avg("_val").alias("_avg"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_pos", "_avg"))),
                    mean_elt,
                ).alias("_mean_vec")
            )
        )
        refined = (
            refined.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("_mean_vec", "centroid_vec").alias("centroid_vec"),
            )
        )
    return refined


def ivf_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    query_vec_col: str = "qv",
    sim_col: str = "sim",
    dim: int | None = None,
    round_dp: int | None = None,
    refine_iters: int = 0,
    materialize_centroids: bool = True,
) -> DataFrame:
    """Batched IVF top-k: serve a WHOLE QUERY TABLE (qid, qv) in one
    plan — the shape a similarity-search service actually runs
    (ivf_topk answers one vector; real callers arrive in batches).

    The corpus-side work is done ONCE for the batch, not per query:
    centroid build + assignment are query-independent, and the
    assignment groupBy carries each vector's payload through with
    any_value so the inverted lists never re-join the corpus. Per-query
    routing (score centroids against each query, keep its nprobe best)
    happens on the Q x n_centroids grid — driver-free, then broadcast.
    Candidate scoring fans each inverted list out only to the queries
    that probe it, and the final per-query cut is a row_number window
    over qid.

    Exchanges (count INDEPENDENT of Q — adding queries adds no stage):
    1. assignment groupBy(id) over the corpus,
    2. the tiny probe-grid window (Q x n_centroids rows),
    3. the per-query top-k window over ~Q * nprobe/n_centroids * |emb|
       scored pairs — the output-proportional shuffle every batched
       k-NN must pay; at production Q, salt qid or range-partition the
       query batch to spread it.
    nprobe = n_centroids degrades to exact batched search (the test
    oracle's equivalence handle, same as ivf_topk).

    ``materialize_centroids`` (default True) localCheckpoints the
    n_centroids-row centroid table before use. The centroid subtree —
    especially a k-means-refined one, itself several corpus passes —
    is consumed TWICE (inverted-list assignment and the probe grid);
    without materialization Catalyst re-expands and re-executes it at
    every use (measured: 40 exchanges / 88.6 ms -> 6 exchanges /
    50.1 ms at sf0.1 with 2 Lloyd iterations). The checkpoint is an
    eager action over n_centroids rows — trivial to hold, and the
    lineage truncation is the same idiom the iterative graph
    operators use (operators/graph.py).
    """
    centroids = seed_centroids(emb, n_centroids, id_col, vec_col)
    if refine_iters > 0:
        centroids = kmeans_refine(emb, centroids, refine_iters, id_col, vec_col, dim)
    if materialize_centroids:
        centroids = centroids.localCheckpoint(eager=True)
    lists = ivf_lists(emb, centroids, id_col, vec_col, dim)
    return ivf_topk_batch_from(
        centroids, lists, queries, k,
        nprobe=nprobe, id_col=id_col, vec_col=vec_col, qid_col=qid_col,
        query_vec_col=query_vec_col, sim_col=sim_col, dim=dim,
        round_dp=round_dp,
    )


def ivf_lists(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sim_round_dp: int | None = None,
) -> DataFrame:
    """The IVF inverted lists: (id, centroid_id, vector) — assignment
    WITH the vector payload carried through the groupBy via any_value,
    so serving never re-joins the corpus. One broadcast nested-loop +
    one groupBy(id) shuffle over the corpus; ``sim_round_dp`` as in
    ivf_assign (the persisted-index determinism knob)."""
    sim = cosine(vec_col, "centroid_vec", dim)
    if sim_round_dp is not None:
        sim = F.round(sim, sim_round_dp)
    scored_cells = emb.crossJoin(F.broadcast(centroids)).select(
        id_col,
        vec_col,
        "centroid_id",
        sim.alias("_sim"),
    )
    return scored_cells.groupBy(id_col).agg(
        F.max_by(
            "centroid_id", F.struct(F.col("_sim"), -F.col("centroid_id"))
        ).alias("centroid_id"),
        F.any_value(vec_col).alias(vec_col),
    )


def ivf_topk_batch_from(
    centroids: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    query_vec_col: str = "qv",
    sim_col: str = "sim",
    dim: int | None = None,
    round_dp: int | None = None,
    probe_round_dp: int | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """SERVE-ONLY batched IVF top-k against a PREBUILT index — the
    production regime split (VERDICT r9 item 1): ``build_ivf_index``
    runs once and persists (centroids, inverted lists) as versioned
    snapshot tables; this function is the many-batches serving path
    and touches only the two index relations, never the raw corpus
    and never a k-means pass.

    Plan: per-query routing scores the n_centroids-row centroid table
    against each query (Q x n_centroids grid, broadcast), candidate
    scoring fans each inverted list out only to the queries that probe
    it, and the per-query cut is a row_number window over qid — the
    output-proportional shuffle every batched k-NN pays (salt qid at
    production Q). Exchange count is independent of BOTH corpus size
    and Q.

    ``probe_round_dp`` rounds the query-to-centroid routing score
    before the nprobe cut (cross-engine boundary rule) — needed only
    when an external oracle replays the routing; engine-internal
    callers keep raw doubles (None).

    ``norm_col`` names the PRECOMPUTED vector-norm column persisted in
    the index by build_ivf_index (the FAISS trick). The candidate
    scoring — the serve path's only O(candidates) expression — then
    pays ONE interpreted dot fold per pair, with the list vector
    already double-typed and each query's norm computed once in the
    Q x nprobe probe grid: sim = dot / (stored_norm * qnorm), the
    exact same double arithmetic as the three-fold cosine (casts are
    exact; the division tree is unchanged), so results are
    bit-identical. Measured at sf10 (5M scored pairs): 4.19 s ->
    2.1 s cold. (Unrolling via ``dim`` regressed to 10.8 s here: the
    3 x 64-term trees blow the fused join stage past janino's method
    limit and the WHOLE stage falls back to interpreted — the inverse
    of the scan-side-Project rule in operators/similarity.py.)"""
    from pyspark.sql import Window

    qsim = cosine("centroid_vec", query_vec_col, dim)
    if probe_round_dp is not None:
        qsim = F.round(qsim, probe_round_dp)
    probe_rank = Window.partitionBy(qid_col).orderBy(
        F.desc("_qsim"), F.asc("centroid_id")
    )
    probe_cols: list = [qid_col, "centroid_id", query_vec_col]
    if norm_col is not None:
        # double-cast the query vector ONCE here (Q x nprobe rows) so
        # the per-pair dot fold below sees double lambda vars and
        # SimplifyCasts erases the per-element casts; compute each
        # query's norm once likewise. Both are value-exact.
        probe_cols = [
            qid_col,
            "centroid_id",
            F.transform(query_vec_col, lambda x: x.cast("double")).alias(
                query_vec_col
            ),
            l2_norm(query_vec_col).alias("_qnorm"),
        ]
    probes = (
        centroids.crossJoin(F.broadcast(queries))
        .select(
            qid_col,
            "centroid_id",
            query_vec_col,
            qsim.alias("_qsim"),
        )
        .withColumn("_rn", F.row_number().over(probe_rank))
        .filter(F.col("_rn") <= nprobe)
        .select(*probe_cols)
    )
    if norm_col is not None:
        sim = dot(vec_col, query_vec_col) / (F.col(norm_col) * F.col("_qnorm"))
    else:
        sim = cosine(vec_col, query_vec_col, dim)
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    scored = lists.join(F.broadcast(probes), "centroid_id").select(
        qid_col, id_col, sim.alias(sim_col)
    )
    topk_rank = Window.partitionBy(qid_col).orderBy(F.desc(sim_col), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(topk_rank).cast("long"))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, sim_col, "rank")
    )


def ivf_topk_batch_vectorized(
    centroids: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    query_vec_col: str = "qv",
    sim_col: str = "sim",
    round_dp: int = 4,
    probe_round_dp: int = 4,
    pq_codebooks: dict | None = None,
) -> DataFrame:
    """The VECTORIZED serving fast path: same routing + same results
    as ivf_topk_batch_from (pinned by
    tests/test_llm_operators.py::test_ivf_vectorized_matches_jvm_path)
    but candidate scoring runs as numpy matmul over Arrow batches in
    mapInPandas — the one workload class where JVM expression
    evaluation genuinely cannot compete: interpreted HOF dot folds
    cost ~18 us per 64-dim pair (measured sf10: 2.8 s of the 3.5 s
    cold serve was the fold over 5M pairs) while BLAS does the same
    5M x 64 x 2 FLOPs in ~0.1 s. This is the sanctioned
    Pandas-UDF-for-dense-linear-algebra lane, exactly like FAISS
    serving: IVF routing decides WHAT to score relationally; a SIMD
    kernel scores it.

    Shape: the Q x nprobe probe grid is computed relationally
    (rounded cosine + lower-id tiebreak, identical to the JVM path)
    and COLLECTED — bounded by the query batch, the same
    prepared-statement pattern as q_knn_cosine's point-read query
    vector and q_pagerank's node count; it never scales with the
    corpus. Each Arrow batch of inverted-list rows then multiplies
    against its centroid's probing-query matrix and emits only its
    per-(query, batch) top-k (rounded-sim desc, id asc — the batch-
    local cut is safe because top-k composes under a total order);
    the final per-query cut is a window over <= batches x Q x k rows.
    Arrow moves the lists ONCE per serve (their stored double vectors
    + norms), ~100 MB at sf10 — vs 5 GB if pairs were shipped.

    Rounding note: numpy's pairwise-summation dot differs from the
    left fold by ~1e-15 relative — far inside the round_dp boundary
    rule margin; equality with the JVM path and the DuckDB oracle is
    pinned empirically at sf0.001/0.01/0.1."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    qsim = cosine("centroid_vec", query_vec_col, None)
    probe_rank = Window.partitionBy(qid_col).orderBy(F.desc("_qsim"), F.asc("centroid_id"))
    probes = (
        centroids.crossJoin(F.broadcast(queries))
        .select(
            qid_col,
            "centroid_id",
            query_vec_col,
            F.round(qsim, probe_round_dp).alias("_qsim"),
        )
        .withColumn("_rn", F.row_number().over(probe_rank))
        .filter(F.col("_rn") <= nprobe)
        .select(qid_col, "centroid_id", query_vec_col)
    )
    # Bounded driver-side fetch: Q x nprobe rows (the query batch),
    # corpus-size-independent by construction.
    probe_rows = probes.collect()
    by_cid: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    grouped: dict[int, list] = {}
    for r in probe_rows:
        grouped.setdefault(r["centroid_id"], []).append(r)
    for cid, rows in grouped.items():
        qids = np.array([r[qid_col] for r in rows], dtype=np.int64)
        qmat = np.stack([np.asarray(r[query_vec_col], dtype=np.float64) for r in rows])
        qnorms = np.sqrt((qmat * qmat).sum(axis=1))
        by_cid[cid] = (qids, qmat.T.copy(), qnorms)
    bc = lists.sparkSession.sparkContext.broadcast(by_cid)

    out_schema = f"{qid_col} long, {id_col} long, {sim_col} double"

    # SQ8-compressed index: ship the int8 CODES + per-vector scale
    # through Arrow (1/8 the bytes of the decoded doubles — the decode
    # Project read_ivf_index attached is bypassed, not paid twice) and
    # reconstruct in the kernel: code * scale in float64, the exact
    # same per-element products as the JVM decode, so results are
    # bit-identical before the shared round.
    decode_codes = "vec_code" in lists.columns
    # PQ-compressed index: ship the m smallint codes (8 bytes/vector
    # at the defaults — another 8x under SQ8) and gather the
    # reconstruction from the broadcast codebooks in the kernel
    # (vmat = concat(codebook_s[code_s])), the FAISS IVF-PQ serve.
    decode_pq = pq_codebooks is not None and "pq_code" in lists.columns
    if decode_pq:
        pq_mats = {int(s): a for s, a in pq_codebooks.items()}
        bc_pq = lists.sparkSession.sparkContext.broadcast(pq_mats)
        shipped = lists.select(id_col, "centroid_id", "pq_code", "vec_norm")
    elif decode_codes:
        shipped = lists.select(
            id_col, "centroid_id", "vec_code", "vec_scale", "vec_norm"
        )
    else:
        shipped = lists.select(id_col, "centroid_id", vec_col, "vec_norm")

    def score(batches):
        probe_map = bc.value
        for pdf in batches:
            outs = []
            for cid, sub in pdf.groupby("centroid_id"):
                entry = probe_map.get(cid)
                if entry is None:
                    continue
                qids, qt, qnorms = entry
                if decode_pq:
                    cbs = bc_pq.value
                    codes = np.stack(
                        [
                            np.asarray(c, dtype=np.int64)
                            for c in sub["pq_code"]
                        ]
                    )
                    vmat = np.concatenate(
                        [
                            cbs[s][codes[:, s]]
                            for s in range(codes.shape[1])
                        ],
                        axis=1,
                    )
                elif decode_codes:
                    codes = np.stack(
                        [
                            np.asarray(c, dtype=np.float64)
                            for c in sub["vec_code"]
                        ]
                    )
                    scales = sub["vec_scale"].to_numpy(dtype=np.float64)
                    vmat = codes * scales[:, None]
                else:
                    vmat = np.stack(
                        [np.asarray(v, dtype=np.float64) for v in sub[vec_col]]
                    )
                vnorms = sub["vec_norm"].to_numpy(dtype=np.float64)
                sims = np.round(
                    (vmat @ qt) / np.outer(vnorms, qnorms), round_dp
                )
                ids = sub[id_col].to_numpy(dtype=np.int64)
                kk = min(k, sims.shape[0])
                for j in range(sims.shape[1]):
                    col = sims[:, j]
                    # batch-local top-k under the total order
                    # (sim desc, id asc): lexsort is stable, last key
                    # is primary
                    order = np.lexsort((ids, -col))[:kk]
                    outs.append(
                        pd.DataFrame(
                            {
                                qid_col: np.full(kk, qids[j], dtype=np.int64),
                                id_col: ids[order],
                                sim_col: col[order],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = shipped.mapInPandas(score, out_schema)
    topk_rank = Window.partitionBy(qid_col).orderBy(F.desc(sim_col), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(topk_rank).cast("long"))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, sim_col, "rank")
    )


#: SQ8 zero-vector guard: a scale floor far below any real embedding
#: magnitude, so an all-zero vector quantizes to all-zero codes
#: instead of dividing by zero. Part of the operator definition —
#: the oracle replays the same greatest().
SQ8_EPS = 1e-30


def sq8_finalize_lists(
    lists: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Convert raw inverted-list rows (id, centroid_id, vec) to the
    int8-compressed storage schema (VERDICT r11 item 2, the FAISS-SQ8
    family): per-vector symmetric max-abs scaling —
    scale = max(|v_i|)/127, code_i = round(v_i/scale) in [-127, 127]
    (one int8 per element, 1/8 the bytes of the raw double list) —
    plus the serve-side norm trick computed over the RECONSTRUCTED
    vector (vec_norm = ||code*scale||), so serving arithmetic is a
    pure function of the stored codes. Every step (double division,
    half-away round, products, fold) is the same well-defined
    arithmetic in any engine, so the artifact stays
    oracle-recomputable exactly like the raw layout.

    Raw (uncompressed) finalization is ``raw_finalize_lists``; both
    feed ivf_topk_batch_from / _vectorized unchanged because
    read_ivf_index decodes lazily on read."""
    scale = (
        F.greatest(
            F.array_max(F.transform(vec_col, lambda x: F.abs(x.cast("double")))),
            F.lit(SQ8_EPS),
        )
        / F.lit(127.0)
    )
    with_scale = lists.withColumn("vec_scale", scale)
    codes = F.transform(
        vec_col,
        lambda x: F.round(x.cast("double") / F.col("vec_scale"), 0).cast(
            "tinyint"
        ),
    )
    with_codes = with_scale.withColumn("vec_code", codes)
    decoded = F.transform(
        "vec_code", lambda c: c.cast("double") * F.col("vec_scale")
    )
    return with_codes.withColumn("vec_norm", l2_norm(decoded)).drop(vec_col)


def raw_finalize_lists(
    lists: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Uncompressed storage finalization: double vectors + norms."""
    return lists.withColumn("vec_norm", l2_norm(vec_col))


def sq8_decode() -> "F.Column":
    """The stored-codes -> double-vector reconstruction expression
    (code * scale, exact per element). It always reads the storage
    columns ``vec_code``/``vec_scale``; the OUTPUT column name is the
    caller's withColumn target (read_ivf_index attaches it lazily
    under the metadata's vec_col so every serving plan sees the same
    vector column regardless of storage layout)."""
    return F.transform(
        "vec_code", lambda c: c.cast("double") * F.col("vec_scale")
    )


# -- product quantization (FAISS IVF-PQ family) -------------------------

#: PQ defaults: m subspaces x k codewords over 64-dim embeddings.
#: m=32 (dsub=2) is the measured operating point that holds the 0.05
#: recall bar on the UNSTRUCTURED test embeddings (PQ's adversarial
#: case — random vectors have no low-dim structure to exploit; the
#: sf0.1 sweep in SCALE.md reads m=8/16/32 recall 0.32/0.44/0.51 vs
#: raw 0.51) while still storing 0.53x the SQ8 bytes and 0.11x raw.
#: Structured real-world embeddings admit m=8-16 (8-16 code bytes,
#: 0.26-0.34x SQ8) at the same bar; m persists per-index in
#: _index_meta.json, so the knob is an argument, not a rebuild of
#: serving code.
PQ_M = 32
PQ_K = 256
PQ_ITERS = 1
PQ_DIST_DP = 4  # rounded squared-L2 for assignment determinism
PQ_MEAN_DP = 6  # Lloyd mean element rounding (dp)


def _pq_subvectors(vecs: DataFrame, m: int, dsub: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, subspace, subvec array<double>) — each vector split into m
    contiguous dsub-dim slices, the PQ decomposition. One inline
    projection, no shuffle."""
    return vecs.select(
        F.col(id_col),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.transform(
                            F.slice(vec_col, s * dsub + 1, dsub),
                            lambda x: x.cast("double"),
                        ).alias("subvec"),
                    )
                    for s in range(m)
                ]
            )
        ),
    )


def collect_pq_codebooks(codebooks: DataFrame) -> dict:
    """Materialize the (subspace, code_id, codeword) relation as
    {subspace: ndarray[k, dsub]} with row index == code_id — BOUNDED
    by construction (m x k rows, e.g. 8 x 256 x 8 doubles = 128 KB),
    the same prepared-statement pattern as the probe-grid collect."""
    import numpy as np

    rows = codebooks.collect()
    by_s: dict[int, list] = {}
    for r in rows:
        by_s.setdefault(r["subspace"], []).append((r["code_id"], r["codeword"]))
    out = {}
    for s, items in by_s.items():
        items.sort()
        assert [c for c, _ in items] == list(range(len(items)))
        out[s] = np.asarray([w for _, w in items], dtype=np.float64)
    return out


def pq_encode(
    vecs: DataFrame,
    codebook_arrays: dict,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round_dp: int = PQ_DIST_DP,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector to its m PQ codes + reconstructed norm in ONE
    Arrow-batched numpy pass (mapInPandas): per subspace, code =
    argmin over the rounded squared-L2 distance to the k codewords
    (np.argmin's first-index IS the lower-code_id tiebreak because
    codebook rows are code_id-ordered), and ``vec_norm`` =
    ||concat(codeword[code_s])|| — the norm of the RECONSTRUCTION, so
    serving arithmetic is a pure function of the stored codes (the
    SQ8 norm trick). The codebooks ride the closure (m x k x dsub
    doubles — 128 KB at the defaults); candidate distances never ship
    anywhere. Rounded-distance determinism: the per-element
    (x - c)^2 left-sum over dsub <= 8 elements is evaluated in index
    order by numpy and by DuckDB's list fold alike, so the oracle
    replays the argmin exactly (ties at the round boundary broken by
    code_id on both sides).

    Output: (id, *extra_cols, pq_code array<smallint>, vec_norm) —
    no shuffle, no per-row Python."""
    import numpy as np
    import pandas as pd

    spark = vecs.sparkSession
    bc = spark.sparkContext.broadcast(
        {s: np.ascontiguousarray(a) for s, a in codebook_arrays.items()}
    )
    in_cols = [id_col, *extra_cols, vec_col]
    shipped = vecs.select(*in_cols)
    extra_schema = "".join(
        f", {c} {t}"
        for c, t in zip(
            extra_cols,
            [dict(vecs.dtypes)[c] for c in extra_cols],
        )
    )
    out_schema = (
        f"{id_col} long{extra_schema}, pq_code array<smallint>, "
        "vec_norm double"
    )

    def encode(batches):
        cbs = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((n, m), dtype=np.int16)
            rec = np.empty_like(X)
            # chunk rows so the (chunk, k, dsub) distance tensor stays
            # ~32 MB at the defaults regardless of Arrow batch size
            step = 2048
            for lo in range(0, n, step):
                hi = min(lo + step, n)
                for s in range(m):
                    C = cbs[s]
                    Xs = X[lo:hi, s * dsub : (s + 1) * dsub]
                    d = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
                    cs = np.argmin(np.round(d, dist_round_dp), axis=1)
                    codes[lo:hi, s] = cs
                    rec[lo:hi, s * dsub : (s + 1) * dsub] = C[cs]
            norms = np.sqrt((rec * rec).sum(axis=1))
            out = {id_col: pdf[id_col].to_numpy()}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()
            out["pq_code"] = list(codes)
            out["vec_norm"] = norms
            yield pd.DataFrame(out)

    return shipped.mapInPandas(encode, out_schema)


def pq_train_codebooks(
    train: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = PQ_ITERS,
    dist_round_dp: int = PQ_DIST_DP,
    mean_round_dp: int = PQ_MEAN_DP,
) -> DataFrame:
    """Train the m per-subspace codebooks (k-means over SUBVECTORS,
    squared-L2 — PQ quantizes residual magnitude, so cosine is the
    wrong metric here) with the repo's deterministic k-means recipe:
    seeds = the k lowest train ids' subvectors (code_id = id rank),
    each Lloyd iteration = rounded-distance argmin assignment (lower
    code_id tiebreak, run in the numpy encode kernel) + per-position
    means rounded at ``mean_round_dp`` (empty cells keep their
    previous codeword) — so the published codebooks are a
    deterministic function of the training set that an external
    engine recomputes row-for-row (q_ivf_pq_build's oracle unrolls
    these CTEs, the q_pagerank pattern). Assignment FLOPs run
    vectorized (numpy over Arrow batches); the bounded means
    (m x k x dsub cells) aggregate relationally.

    Returns (subspace, code_id, codeword array<double>)."""
    from pyspark.sql import Window

    dsub = dim // m
    sub = _pq_subvectors(train, m, dsub, id_col, vec_col)
    rank = Window.partitionBy("subspace").orderBy(F.col(id_col).asc())
    codebooks = (
        sub.withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") <= k)
        .select(
            "subspace",
            (F.col("_rn") - 1).cast("int").alias("code_id"),
            F.col("subvec").alias("codeword"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        arrays = collect_pq_codebooks(codebooks)
        assigned = pq_encode(
            train, arrays, m, dsub, id_col, vec_col, dist_round_dp
        ).select(
            id_col, F.posexplode("pq_code").alias("subspace", "code_id")
        )
        means = (
            assigned.join(sub, [id_col, "subspace"])
            .select(
                "subspace",
                "code_id",
                F.posexplode("subvec").alias("pos", "val"),
            )
            .groupBy("subspace", "code_id", "pos")
            .agg(F.round(F.avg("val"), mean_round_dp).alias("mv"))
            .groupBy("subspace", "code_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mv"))),
                    lambda st: st["mv"],
                ).alias("codeword")
            )
        )
        codebooks = (
            codebooks.alias("p")
            .join(
                means.alias("n"),
                ["subspace", "code_id"],
                "left",
            )
            .select(
                "subspace",
                "code_id",
                F.coalesce(F.col("n.codeword"), F.col("p.codeword")).alias(
                    "codeword"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return codebooks


def pq_finalize_lists(
    lists: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round_dp: int = PQ_DIST_DP,
) -> DataFrame:
    """Convert raw inverted-list rows (id, centroid_id, vec) to the
    product-quantized storage schema: m smallint codes per vector
    (8 code bytes at the defaults — 1/8 of SQ8, 1/64 of raw doubles)
    plus the reconstructed-vector norm. Membership (centroid_id) is
    untouched: quantization happens after the IVF argmax, so the
    assignment map — and q_ivf_build's oracle — is layout-independent,
    exactly like SQ8."""
    dsub = dim // m
    return pq_encode(
        lists,
        collect_pq_codebooks(codebooks),
        m,
        dsub,
        id_col,
        vec_col,
        dist_round_dp,
        extra_cols=("centroid_id",),
    )


def pq_decode_lists(
    lists: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the PQ reconstruction as ``vec_col`` relationally: one
    BROADCAST join per subspace against the k-row codebook slice (no
    shuffle, no Python) and an array concat — the JVM-view twin of the
    kernel's numpy gather, used by read_ivf_index so every consumer
    sees a vector column regardless of storage layout."""
    out = lists
    for s in range(m):
        cb_s = codebooks.filter(F.col("subspace") == s).select(
            F.col("code_id").alias(f"_c{s}"),
            F.col("codeword").alias(f"_w{s}"),
        )
        out = out.join(
            F.broadcast(cb_s),
            F.element_at("pq_code", s + 1).cast("int") == F.col(f"_c{s}"),
        )
    vec = F.concat(*[F.col(f"_w{s}") for s in range(m)])
    out = out.withColumn(vec_col, vec)
    return out.drop(*[f"_c{s}" for s in range(m)], *[f"_w{s}" for s in range(m)])


def build_ivf_index(
    emb: DataFrame,
    table_dir: str,
    n_centroids: int = 16,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sim_round_dp: int | None = 4,
    mean_round_dp: int | None = 6,
    train_ppm: int | None = None,
    train_seed: int = 31,
    quantize: str | None = None,
) -> dict[str, int]:
    """Build the IVF index ONCE and PERSIST it as two versioned
    snapshot tables (sources/snapshots.py) under ``table_dir``:
    ``centroids/`` (centroid_id, centroid_vec array<double>) and
    ``lists/`` (id, centroid_id, vector). Returns the published
    version numbers. Serving reads them back (read_ivf_index) and runs
    ivf_topk_batch_from — the build-once / serve-many regime a real
    pipeline runs; rebuild only on corpus change, exactly like any
    other snapshot table. On a lakehouse cluster, write_snapshot swaps
    for lakehouse.write_table unchanged.

    Determinism: seeds are the n_centroids lowest ids cast to double
    (exact), Lloyd means round at ``mean_round_dp`` (double), and
    every assignment argmax uses a ``sim_round_dp``-rounded cosine
    with lower-id tiebreak — so the PUBLISHED ARTIFACT is a
    deterministic function of the corpus that an external engine can
    recompute row-for-row (q_ivf_build's DuckDB oracle unrolls these
    exact iterations in CTEs, the q_pagerank pattern).

    Serving-layout choices baked into the artifact (both value-exact,
    so the oracle is unaffected): list vectors are stored
    double-typed (the per-element float->double casts move from every
    served pair to the one-time build), and each list row carries its
    precomputed L2 norm under ``vec_norm`` — ivf_topk_batch_from's
    ``norm_col`` then reduces per-pair scoring to a single dot fold
    (measured at sf10: cold serve 4.19 s -> 2.1 s).

    ``train_ppm`` (optional) trains k-means on a DETERMINISTIC seeded
    hash-sample of the corpus instead of every vector — the standard
    large-corpus IVF recipe (FAISS trains on a subsample too): seeds
    and every Lloyd assignment/mean run over rows whose
    hash_bucket({id}, 1e6, seed=train_seed) < train_ppm, and only the
    one FINAL full-corpus assignment touches everything. k-means cost
    drops by ~1/fraction while the published artifact stays a
    deterministic, oracle-recomputable function of (corpus, seed) —
    membership is a pure sha256 function of the id, so an external
    engine reproduces the exact training set. Centroid quality is
    statistically equivalent for any fraction that keeps thousands of
    training vectors per centroid (measured sf100: build 122 s ->
    ~45 s at 250k ppm with serve recall unchanged; SCALE.md r11).

    The build also publishes ``_index_meta.json`` under ``table_dir``
    recording (id_col, vec_col, quantize): readers (read_ivf_index,
    ivf_compact, ivf_upsert) resolve the key column AND the storage
    layout from the artifact itself instead of trusting their own
    defaults — an index built with a custom id column or a compressed
    layout merges correctly at read with no caller threading (ADVICE
    r11).

    ``quantize="int8"`` stores the inverted-list vectors as SQ8 codes
    (sq8_finalize_lists: per-vector max-abs scale + int8 codes + the
    reconstructed-vector norm) — 1/8 the list bytes of the raw double
    layout, targeting the measured ~40 s sf100 list write and 8x the
    serve-time Arrow transfer (VERDICT r11 item 2). ASSIGNMENT always
    runs on the original full-precision vectors (quantization happens
    after the argmax), so the membership map — and therefore
    q_ivf_build's oracle — is identical in both layouts; only served
    similarity values carry the reconstruction error, which the serve
    oracles replay exactly and the recall-vs-exact pin bounds."""
    from sas_etl_spark.sources.snapshots import write_snapshot

    if quantize not in (None, "int8", "pq8"):
        raise ValueError(f"unknown quantize mode: {quantize!r}")

    embd = emb.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col),
    )
    if train_ppm is not None:
        from sas_etl_spark.operators.sampling import hash_bucket

        # Materialize the sample ONCE: the sha-membership filter cannot
        # push down to parquet, so an unmaterialized sample would make
        # every one of the ~2*iters+1 training passes scan the FULL
        # corpus and re-hash every id (measured sf10: sampled build
        # SLOWER than full without this). The checkpoint is
        # sample-sized, paid once.
        train = embd.filter(
            hash_bucket(id_col, 1_000_000, seed=train_seed) < train_ppm
        ).localCheckpoint(eager=True)
    else:
        train = embd
    centroids = seed_centroids(train, n_centroids, id_col, vec_col)
    if refine_iters > 0:
        centroids = kmeans_refine(
            train, centroids, refine_iters, id_col, vec_col, dim,
            sim_round_dp=sim_round_dp, mean_round_dp=mean_round_dp,
        )
    # one pass materializes the refined centroids (several corpus
    # scans of lineage) before both consumers below
    centroids = centroids.localCheckpoint(eager=True)
    lists = ivf_lists(embd, centroids, id_col, vec_col, dim, sim_round_dp)
    meta = {"id_col": id_col, "vec_col": vec_col, "quantize": quantize}
    out: dict[str, int] = {}
    if quantize == "int8":
        lists = sq8_finalize_lists(lists, vec_col)
    elif quantize == "pq8":
        # PQ codebooks train on the SAME deterministic sample as the
        # coarse k-means (the FAISS recipe: both quantizers from one
        # training set); codes encode the FULL corpus.
        pq_dim = dim if dim is not None else 64
        codebooks = pq_train_codebooks(
            train, PQ_M, PQ_K, id_col, vec_col, pq_dim,
            iters=PQ_ITERS, dist_round_dp=PQ_DIST_DP,
            mean_round_dp=PQ_MEAN_DP,
        ).localCheckpoint(eager=True)
        lists = pq_finalize_lists(
            lists, codebooks, PQ_M, pq_dim, id_col, vec_col, PQ_DIST_DP
        )
        out["codebooks"] = write_snapshot(codebooks, f"{table_dir}/codebooks")
        meta.update({"pq_m": PQ_M, "pq_k": PQ_K, "pq_dim": pq_dim})
    else:
        lists = raw_finalize_lists(lists, vec_col)
    out["centroids"] = write_snapshot(centroids, f"{table_dir}/centroids")
    out["lists"] = write_snapshot(lists, f"{table_dir}/lists")
    _write_index_meta(table_dir, meta)
    return out


def _write_index_meta(table_dir: str, meta: dict) -> None:
    """Atomically publish the index's column metadata (same os.replace
    idiom as the snapshot pointer)."""
    import json
    import os
    import tempfile

    os.makedirs(table_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix="_meta_", dir=table_dir)
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(table_dir, "_index_meta.json"))


def _read_index_meta(table_dir: str) -> dict:
    """The persisted ``_index_meta.json``, or the historical defaults
    for pre-metadata indexes (all built with 'vec_id'/'embedding',
    uncompressed). Only a MISSING file falls back to defaults; a
    present-but-unparseable file raises (ADVICE r12) — silently
    defaulting on corruption would mis-key the delta merge or drop the
    SQ8 decode and surface as an unrelated missing-column error far
    from the damaged artifact."""
    import json
    import os

    meta_path = os.path.join(table_dir, "_index_meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
    except FileNotFoundError:
        meta = {}
    except ValueError as e:
        raise ValueError(
            f"corrupt index metadata {meta_path}: {e}"
        ) from e
    return {
        "id_col": str(meta.get("id_col", "vec_id")),
        "vec_col": str(meta.get("vec_col", "embedding")),
        "quantize": meta.get("quantize"),
        "pq_m": int(meta.get("pq_m", PQ_M)),
        "pq_dim": int(meta.get("pq_dim", 64)),
    }


def _resolve_id_col(table_dir: str, id_col: str | None) -> str:
    """The index's key column: an explicit argument wins, else the
    persisted metadata (see _read_index_meta)."""
    if id_col is not None:
        return id_col
    return _read_index_meta(table_dir)["id_col"]


def read_ivf_index(
    spark, table_dir: str, id_col: str | None = None, decode: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(centroids, lists) read back from the persisted index — current
    versions; pass explicit versions via read_snapshot for time
    travel. When a merge-on-read delta exists (ivf_upsert
    mode="mor"), the returned lists are the MERGED view: base rows
    whose id the delta re-ingested are dropped (anti-join against the
    delta id set) and the delta is unioned in. Serving plans are
    unchanged; they see one lists relation either way.

    The key column AND storage layout resolve from the index's own
    ``_index_meta.json`` (written by build_ivf_index) unless
    overridden — an index built with a custom id column merges
    correctly with no caller threading. An int8-compressed index
    (quantize="int8") comes back with the vector column DECODED
    lazily (sq8_decode: code * scale, a scan-side Project) so every
    serving plan sees the same (id, centroid_id, <vec_col>, vec_norm)
    relation regardless of layout; the vectorized serve kernel
    bypasses the decode and ships the codes through Arrow directly
    (1/8 the transfer). The delta anti-join broadcast is SIZE-GATED
    (ADVICE r11): a small delta ships as a broadcast lookup; an
    overgrown one (compaction overdue) degrades to a shuffled
    anti-join instead of OOMing the executors."""
    from sas_etl_spark.operators.broadcast import broadcast_if_small
    from sas_etl_spark.sources.snapshots import read_snapshot

    meta = _read_index_meta(table_dir)
    id_col = id_col if id_col is not None else meta["id_col"]
    centroids = read_snapshot(spark, f"{table_dir}/centroids")
    lists = read_snapshot(spark, f"{table_dir}/lists")
    delta = _read_delta_if_any(spark, table_dir)
    if delta is not None:
        lists = lists.join(
            broadcast_if_small(delta.select(id_col)), id_col, "left_anti"
        ).unionByName(delta)
    if not decode:
        # serve-lean view: keep the stored codes only (the vectorized
        # kernel reconstructs from the broadcast codebooks; a PQ
        # decode here would be m joins the kernel never needs)
        return centroids, lists
    if meta["quantize"] == "int8" and "vec_code" in lists.columns:
        lists = lists.withColumn(meta["vec_col"], sq8_decode())
    elif meta["quantize"] == "pq8" and "pq_code" in lists.columns:
        codebooks = read_snapshot(spark, f"{table_dir}/codebooks")
        lists = pq_decode_lists(lists, codebooks, meta["pq_m"], meta["vec_col"])
    return centroids, lists


def ivf_upsert(
    spark,
    table_dir: str,
    new_vecs: DataFrame,
    id_col: str | None = None,
    vec_col: str = "embedding",
    dim: int | None = None,
    sim_round_dp: int | None = 4,
    mode: str = "cow",
) -> int:
    """INCREMENTAL index maintenance: fold a new vector batch into the
    persisted IVF index WITHOUT re-running k-means — assign the batch
    to the EXISTING (frozen) centroids in one broadcast pass, replace
    any re-ingested ids (upsert semantics: new row wins, the
    snapshot_upsert keep-newest rule), and publish the union as the
    lists table's next immutable snapshot version. Centroids are
    untouched, so every serving plan (ivf_topk_batch_from /
    _vectorized) picks the enlarged index up on its next read with
    zero code change, and time travel to the pre-upsert version
    remains one read_snapshot(version=...) away.

    This is the ingest-cadence half of the build/serve regime: a
    production corpus grows hourly, but k-means retrains only on
    drift. Cost is O(|batch| x n_centroids) broadcast compare + one
    bounded shuffle — independent of the existing corpus size, the
    same incremental contract as q_incremental_dedup /
    q_incremental_neardup. Centroid drift is the caveat: cells only
    ever gain members, so serve recall decays if the new batch's
    distribution shifts; the rebuild trigger (member-count skew or
    recall probes) is the operator's documented companion policy.

    Determinism: the SAME rounded-cosine + lower-id argmax as the
    build (``sim_round_dp``), so the post-upsert lists table is a
    deterministic function of (old corpus, batch) that an external
    engine recomputes row-for-row (q_ivf_upsert's oracle).

    ``mode`` picks the publish strategy — VALUE-identical, different
    write cost (pinned equal by tests/test_round11_semantics.py):

    - ``"cow"`` (copy-on-write, default): rewrite the merged lists as
      the next immutable version. Write cost O(corpus) — the Delta-
      style unpartitioned-table COW; right while the index is small
      or refreshes are rare, and the only mode whose artifact is a
      single self-contained table version.
    - ``"mor"`` (merge-on-read, the 100 TB ingest shape): publish the
      batch into a SIDE DELTA table (lists_delta) and leave the base
      untouched — write cost O(accumulated deltas), i.e. O(batch)
      until compaction, the LSM L0 pattern. read_ivf_index merges on
      read (base anti-join delta ids, union delta — the delta id set
      broadcasts while deltas are small). Call ivf_compact when the
      delta grows past read-amplification comfort; that pays the one
      O(corpus) rewrite the COW mode pays every batch.

    The key column resolves from ``_index_meta.json`` unless
    overridden, and every batch/delta-id anti-join broadcast is
    SIZE-GATED (ADVICE r11): past the bound the merge degrades to a
    shuffled anti-join — slower, never an OOM — so the documented
    'while deltas are small' caveat is enforced by the plan, not by
    hope."""
    from sas_etl_spark.operators.broadcast import broadcast_if_small
    from sas_etl_spark.sources.snapshots import read_snapshot, write_snapshot

    meta = _read_index_meta(table_dir)
    id_col = id_col if id_col is not None else meta["id_col"]
    centroids = read_snapshot(spark, f"{table_dir}/centroids")
    batch = new_vecs.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col),
    )
    assigned = ivf_lists(batch, centroids, id_col, vec_col, dim, sim_round_dp)
    # finalize under the INDEX'S OWN storage layout (metadata, not a
    # caller flag): a batch upserted into an int8 index quantizes
    # exactly as the build did, so the merged table stays one layout
    if meta["quantize"] == "int8":
        assigned = sq8_finalize_lists(assigned, vec_col)
    elif meta["quantize"] == "pq8":
        codebooks = read_snapshot(spark, f"{table_dir}/codebooks")
        assigned = pq_finalize_lists(
            assigned, codebooks, meta["pq_m"], meta["pq_dim"], id_col, vec_col
        )
    else:
        assigned = raw_finalize_lists(assigned, vec_col)
    if mode == "mor":
        prior = _read_delta_if_any(spark, table_dir)
        if prior is not None:
            # keep-newest within the delta itself: this batch replaces
            # any delta row it re-ingests
            prior = prior.join(
                broadcast_if_small(batch.select(id_col)), id_col, "left_anti"
            )
            assigned = prior.unionByName(assigned)
        return write_snapshot(assigned, f"{table_dir}/lists_delta")
    if mode != "cow":
        raise ValueError(f"unknown ivf_upsert mode: {mode!r}")
    lists = read_snapshot(spark, f"{table_dir}/lists")
    # upsert: drop any existing row re-ingested by the batch (anti-join
    # on id — broadcast when the batch is provably small), then union
    survivors = lists.join(
        broadcast_if_small(batch.select(id_col)), id_col, "left_anti"
    )
    merged = survivors.unionByName(assigned)
    return write_snapshot(merged, f"{table_dir}/lists")


def _read_delta_if_any(spark, table_dir: str):
    """The current lists_delta snapshot, or None when never published."""
    import os

    from sas_etl_spark.sources.snapshots import read_snapshot

    delta_dir = f"{table_dir}/lists_delta"
    if not os.path.isdir(delta_dir):
        return None
    try:
        return read_snapshot(spark, delta_dir)
    except (FileNotFoundError, OSError):
        return None


def ivf_compact(spark, table_dir: str, id_col: str | None = None) -> int:
    """Fold the accumulated merge-on-read delta into the base lists
    table: publish base-anti-join-delta ∪ delta as the lists table's
    next version, then publish an EMPTY delta (same schema) so readers
    atomically switch to the compacted base. The one O(corpus) write
    the MOR mode defers; schedule it on delta-size or
    read-amplification thresholds, exactly like an LSM L0->L1
    compaction or a lakehouse OPTIMIZE. Key column from
    ``_index_meta.json``; delta-id broadcast size-gated — by
    compaction time the delta is at its LARGEST, exactly when an
    unconditional broadcast would be most dangerous (ADVICE r11)."""
    from sas_etl_spark.operators.broadcast import broadcast_if_small
    from sas_etl_spark.sources.snapshots import read_snapshot, write_snapshot

    id_col = _resolve_id_col(table_dir, id_col)
    delta = _read_delta_if_any(spark, table_dir)
    if delta is None:
        raise ValueError(f"no lists_delta published under {table_dir}")
    base = read_snapshot(spark, f"{table_dir}/lists")
    merged = base.join(
        broadcast_if_small(delta.select(id_col)), id_col, "left_anti"
    ).unionByName(delta)
    v = write_snapshot(merged, f"{table_dir}/lists")
    write_snapshot(delta.limit(0), f"{table_dir}/lists_delta")
    return v


def semdedup_k_for(
    n: int, vectors_per_cluster: int = 1250, k_min: int = 16
) -> int:
    """Cluster-count rule for SemDeDup blocking, promoted to API from
    the round-13 scaling measurement (SCALE.md: growing k = n/1250
    with the corpus held the within-cluster pairs stage at 1.12x per
    10x corpus, 20k -> 200k vectors; a FIXED k would be ~100x —
    cluster size, and therefore the self-join's per-key fan-out, must
    stay constant as n grows). Floor at the attested driver-fixture
    recipe (16 centroids) so small corpora keep the oracle-replayed
    geometry. Boundary behavior pinned by
    tests/test_round14_semantics.py."""
    return max(k_min, n // vectors_per_cluster)


def semdedup_against_index(
    spark,
    table_dir: str,
    batch: DataFrame,
    threshold: float,
    sim_round_dp: int = 6,
    assign_round_dp: int | None = 4,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> DataFrame:
    """SemDeDup SERVING from a PERSISTED semantic index — the
    ingest-cadence form of q_semdedup (VERDICT r13 item 2), the exact
    analog of neardup_query_index for the embedding family: the
    master corpus is clustered ONCE (build_ivf_index publishes frozen
    centroids + cluster-assigned member vectors as versioned snapshot
    tables), and every arriving batch (1) assigns to the FROZEN
    centroids — one broadcast nested-loop over the tiny centroid
    table, never a re-clustering — and (2) compares ONLY against the
    persisted members of its own cluster, exact rounded cosine at
    ``threshold``. Returns the pair relation (batch_id, master_id,
    sim); the consumer drops batch docs with any pair (master-wins
    survivorship, q_incremental_neardup's posture).

    REFUSES to answer if no index exists under ``table_dir`` — the
    q_neardup_mor_serve recipe: a green attested row must prove the
    serve-from-artifact path ran, not a silent inline rebuild.

    Cost shape (the 100 TB ingest bill): re-running q_semdedup per
    ingest pays k-means over master+batch every time; this pays
    assignment O(|batch| x k) map-side plus a per-cluster join whose
    fan-out is bounded by cluster size — constant when the index was
    built with semdedup_k_for's n/1250 rule. Exactness: with a RAW
    (quantize=None) index the stored member vectors are double-casts
    of the originals (exact), so served sims equal the brute-force
    batch x master relation whenever qualifying pairs co-cluster —
    guaranteed for IEEE-scaled planted duplicates, fixture-asserted
    for the no-natural-pairs assumption (ADVICE r13); a quantized
    layout serves reconstructed sims (dedup-grade, not hash-grade).

    Per-pair scoring is the ivf_topk_batch_from norm trick: the index
    stores each member's L2 norm (vec_norm) and the batch norm
    computes once per batch row scan-side, so the within-cluster join
    pays ONE dot fold per pair instead of dot + two norms —
    bit-identical to cosine() (same subexpressions, factored out of
    the pair loop), ~3x less per-pair arithmetic."""
    import os

    if not os.path.isdir(os.path.join(table_dir, "centroids")):
        raise RuntimeError(
            "semdedup_against_index requires a built semantic index: "
            f"no centroids table under {table_dir} — run build_ivf_index "
            "over the master corpus first"
        )
    meta = _read_index_meta(table_dir)
    id_col = id_col if id_col is not None else meta["id_col"]
    vec_col = vec_col if vec_col is not None else meta["vec_col"]
    centroids, lists = read_ivf_index(spark, table_dir)
    batch_d = batch.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col),
    )
    assigned = ivf_assign(
        batch_d, centroids, id_col, vec_col, sim_round_dp=assign_round_dp
    )
    bv = batch.join(assigned, id_col).select(
        F.col(id_col).alias("batch_id"),
        "centroid_id",
        F.col(vec_col).alias("_bv"),
        l2_norm(vec_col).alias("_bnorm"),
    )
    mnorm = (
        F.col("vec_norm") if "vec_norm" in lists.columns else l2_norm(F.col(vec_col))
    )
    mv = lists.select(
        F.col(id_col).alias("master_id"),
        "centroid_id",
        F.col(vec_col).alias("_mv"),
        mnorm.alias("_mnorm"),
    )
    return (
        bv.join(mv, "centroid_id")
        .select(
            "batch_id",
            "master_id",
            F.round(
                dot("_bv", "_mv") / (F.col("_bnorm") * F.col("_mnorm")),
                sim_round_dp,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
