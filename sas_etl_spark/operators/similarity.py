"""Vector-similarity operators over array<float> embedding columns.

SURVEY.md §2.9 #53. Exact top-k cosine is the verified baseline
(oracle: DuckDB list_cosine_similarity); LSH/IVF approximate variants
are the 100 TB scale path (rows-only checks) and live in
``ann.py``.

All arithmetic stays JVM-side via higher-order array functions
(zip_with/aggregate) — no Python UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _parse_byte_size(s: str) -> int:
    """Parse a Spark size conf string ('128MB', '134217728b', '1g')."""
    s = s.strip().lower().removesuffix("b")
    for suffix, factor in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            return int(float(s[:-1]) * factor)
    return int(s)


def _estimated_scan_tasks(df: DataFrame) -> int | None:
    """Estimate the file-scan partition count for a DataFrame.

    Public API only: ``df.inputFiles()`` (a FileIndex listing, no job,
    no plan->RDD conversion — ``.rdd.getNumPartitions()`` forces a full
    plan->RDD translation per call) + driver-side stat of the files,
    divided by ``spark.sql.files.maxPartitionBytes`` the way Spark's
    FilePartition packing does (one partition minimum per file is not
    modeled — for a tiny-scan gate the order of magnitude is all that
    matters). Returns None when no estimate is possible — non-file
    source, or URIs the driver cannot stat (hdfs://, s3://) — which
    callers must treat as "assume big": at cluster scale the scan is
    already parallel and tiny-scan mitigation must not trigger.

    File-size summing is shared with the size-gated broadcast hint
    (operators/broadcast.py::estimated_input_bytes).
    """
    from sas_etl_spark.operators.broadcast import estimated_input_bytes

    total = estimated_input_bytes(df)
    if total is None:
        return None
    try:
        max_pb = _parse_byte_size(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
    except Exception:
        max_pb = 128 << 20
    return max(1, -(-total // max(1, max_pb)))


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Spread a scan that would run in fewer tasks than the
    application's default parallelism over that many tasks.

    A small input packed into one parquet file scans as one task (the
    sf0.1 embeddings are ONE 0.8 MB file), so row-local work above it,
    such as an interpreted-HOF cosine, runs on a single core. Below
    the gate a round-robin repartition spreads the rows first. The
    gate is the ESTIMATED scan partition count (_estimated_scan_tasks:
    the public inputFiles() listing, no plan->RDD conversion), so at
    real scale, where the scan is already wide or the files sit on an
    object store and the estimate abstains, ``df`` comes back as is
    and no corpus-wide shuffle is added. Measured on q_knn_cosine at
    sf0.1 (2k rows, 64-dim, bench protocol): 115 ms single-task ->
    ~55-60 ms spread over 32 tasks.
    """
    min_tasks = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_tasks(df)
    if est is not None and est < min_tasks:
        return df.repartition(min_tasks)
    return df


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two array columns, computed in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: ColumnOrName) -> Column:
    """Euclidean norm of an array column, computed in double."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def dot_unrolled(a: ColumnOrName, b: ColumnOrName, dim: int) -> Column:
    """Dot product unrolled to plain arithmetic for a known dimension.

    Higher-order functions (aggregate/zip_with lambdas) fall out of
    whole-stage codegen and are interpreted per-row; an explicit
    element_at chain stays inside codegen and is ~5x faster. The
    left-associated sum starting at 0.0 reproduces F.aggregate's fold
    order exactly, so results are bit-identical to ``dot``. Arrays
    shorter than ``dim`` yield NULL (element_at out of range) rather
    than a partial sum — callers own the fixed-dim contract.
    """
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
    return acc


def l2_norm_unrolled(a: ColumnOrName, dim: int) -> Column:
    """Euclidean norm unrolled for a known dimension (see dot_unrolled)."""
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        c = F.element_at(a, i).cast("double")
        acc = acc + c * c
    return F.sqrt(acc)


def cosine(a: ColumnOrName, b: ColumnOrName, dim: int | None = None) -> Column:
    """Cosine similarity of two array columns (double).

    Pass ``dim`` when the embedding dimension is known at plan time to
    get the codegen-friendly unrolled form (bit-identical results) —
    but ONLY where the expression lands in a scan-side Project. Inside
    a join condition (e.g. an all-pairs similarity filter) the unrolled
    tree overflows janino's 64KB method limit, de-codegens the whole
    join, and is an order of magnitude slower than the HOF form.
    """
    if dim is not None:
        return dot_unrolled(a, b, dim) / (
            l2_norm_unrolled(a, dim) * l2_norm_unrolled(b, dim)
        )
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def int8_quantize_columns(vec: ColumnOrName) -> dict[str, Column]:
    """Symmetric int8 quantization of an embedding column — the
    vector-store compression step (FAISS SQ8 / product-quantization
    lite): per-vector scale = 127/max|x|, code = floor(x*scale + 0.5),
    reconstruction error = mean((x - code/scale)^2).

    All three as named column expressions over higher-order functions;
    left-to-right fold order (F.aggregate) matches DuckDB list_reduce
    exactly, so the reconstruction MSE is BIT-identical cross-engine —
    which is what lets the registered query hash-verify a numeric
    compression op. floor(x+0.5) instead of round(): both engines'
    round() exist but tie-handling is spelled differently across
    versions; the explicit floor form is one semantics everywhere.
    4x memory reduction per vector at <1e-6 MSE on unit-scale data;
    codes stay in array<double> here for oracle parity — cast to
    array<tinyint> at the storage boundary.
    """
    x = F.col(vec) if isinstance(vec, str) else vec
    absmax = F.aggregate(
        x, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v.cast("double")))
    )
    scale = F.lit(127.0) / absmax
    codes = F.transform(x, lambda v: F.floor(v.cast("double") * scale + F.lit(0.5)))
    err2 = F.zip_with(
        x,
        codes,
        lambda v, q: (v.cast("double") - q / scale) * (v.cast("double") - q / scale),
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda a, v: a + v) / F.size(x)
    return {"scale": scale, "codes": codes, "mse": mse}


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "scale",
    codes_col: str = "codes",
    mse_col: str = "mse",
) -> DataFrame:
    """STAGED int8 quantization: same arithmetic as
    int8_quantize_columns (bit-identical results), evaluated through
    chained projections so each expensive piece is computed ONCE per
    row. Interpreted HOFs get no common-subexpression elimination —
    composing the raw column expressions in one Project inlines the
    absmax fold into EVERY code/error element (O(dim^2) per row:
    1.49 s for 2000x64 at sf0.1); staging scale -> codes -> err2 as
    named columns makes each a plain column read (0.23 s, 6.5x).
    The per-level single-reference structure also keeps Catalyst's
    CollapseProject from re-inlining (it refuses to duplicate
    non-cheap expressions)."""
    x = F.col(vec_col)
    absmax = F.aggregate(
        x, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v.cast("double")))
    )
    s1 = df.withColumn(scale_col, F.lit(127.0) / absmax)
    s2 = s1.withColumn(
        codes_col,
        F.transform(
            x, lambda v: F.floor(v.cast("double") * F.col(scale_col) + F.lit(0.5))
        ),
    )
    s3 = s2.withColumn(
        "_err2",
        F.zip_with(
            x,
            F.col(codes_col),
            lambda v, q: (v.cast("double") - q / F.col(scale_col))
            * (v.cast("double") - q / F.col(scale_col)),
        ),
    )
    return s3.withColumn(
        mse_col,
        F.aggregate("_err2", F.lit(0.0), lambda a, v: a + v) / F.size("_err2"),
    ).drop("_err2")


def cosine_topk(
    candidates: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    sim_col: str = "sim",
    dim: int | None = None,
    round_dp: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of a (tiny, broadcast) query set.

    ``query`` must be small — it is broadcast to every task, so the
    "cross join" is really a map-side loop: no shuffle of the
    candidate side at all. The top-k is `orderBy().limit(k)` which
    Spark executes as TakeOrderedAndProject (per-partition heap +
    driver merge of k rows), not a global sort — the plan that
    survives a 100 TB candidate table.

    ``round_dp``: round the similarity to that many decimals BEFORE
    the cut (registry LIMIT rule — a cross-engine oracle scoring in
    float32 can flip raw-double boundary candidates; ranking both
    sides on the rounded value + id tiebreak makes the cut stable).
    """
    joined = candidates.crossJoin(F.broadcast(query))
    sim = cosine(vec_col, query_vec_col, dim)
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    return (
        joined.select(id_col, sim.alias(sim_col))
        .orderBy(F.desc(sim_col), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_literal(
    candidates: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_col: str = "sim",
    round_dp: int | None = None,
) -> DataFrame:
    """Exact top-k cosine against a *bound* query vector.

    The vector is compiled into the plan as ONE array-literal node —
    the prepared-statement-with-parameter form of cosine_topk. One
    job, no broadcast build stage; right for single-vector point
    lookups (the query vector is a parameter, not data). Use
    cosine_topk when the query set itself is a DataFrame.

    The query norm is always folded driver-side (Catalyst's
    ConstantFolding cannot fold through HOF lambdas, and recomputing
    it per row is dead work); Python's left-assoc sum matches the
    Spark fold order, so qnorm is bit-identical to the HOF fold.

    ``round_dp``: round sim before the cut (cross-engine boundary
    rule, see cosine_topk). A candidate set that scans as one task can
    be passed through spread_small_scan first (q_knn_cosine does).
    """
    import math

    qv = [float(x) for x in query_vec]
    qnorm = math.sqrt(sum(x * x for x in qv))
    sim = dot(vec_col, F.lit(qv)) / (l2_norm(vec_col) * F.lit(qnorm))
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    return (
        candidates.select(id_col, sim.alias(sim_col))
        .orderBy(F.desc(sim_col), F.asc(id_col))
        .limit(k)
    )
