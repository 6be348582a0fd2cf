"""Data-governance and drift-audit queries: the monitoring lane of a
production pipeline (distribution audits, drift detection, class
balance, right-to-be-forgotten, incremental dedup).

SAS surface covered:
- PROC FREQ goodness-of-fit style digit audits (Benford),
- PROC NPAR1WAY-adjacent distribution-shift scoring (PSI),
- PROC FREQ class-balance tables per split,
- DATA-step purge via MERGE IN= subsetting (GDPR delete cascade),
- PROC SORT NODUPKEY against a historical master (incremental dedup).

Everything is conditional aggregation + broadcast joins of tiny stat
tables — zero windows over detail rows, zero Python. Each plan's
shuffle carries only (bucket, count) pairs, so 1000x the input changes
task counts, not plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sas_etl_spark.catalog import load_table
from sas_etl_spark.registry import query

# -- Benford first-digit audit ---------------------------------------


@query(
    "q_benford",
    oracle="""
    with d as (
        select cast(substring(cast(cast(floor(o_totalprice) as bigint)
                                   as varchar), 1, 1) as int) as digit
        from orders where o_totalprice > 0
    ),
    c as (select digit, count(*) as n from d group by digit),
    t as (select count(*) as total from d)
    select digit, cast(n as bigint) as n,
           round(cast(n as double) / total, 6) as obs_frac,
           round(log10(1.0 + 1.0 / digit), 6) as exp_frac
    from c cross join t
    """,
    tags=("agg", "quality"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals (SAS:
    PROC FREQ TESTP= goodness-of-fit; fraud/DQ screening: fabricated
    numeric columns diverge from the log10(1+1/d) law).

    Output is one row per leading digit with observed vs expected
    fractions — the analyst-facing audit table. (The synthetic fixture
    prices are uniform-ish, so they WON'T follow Benford — the query
    verifies the measurement, not the law.)

    Scale: digit extraction is scan-side; the agg output is <= 9 rows;
    the grand total joins back as a broadcast of one row.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = digits.agg(F.count(F.lit(1)).alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
            "obs_frac"
        ),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("exp_frac"),
    )


# -- PSI distribution drift ------------------------------------------

PSI_BIN_WIDTH = 70000.0
PSI_N_BINS = 8
PSI_EPS = 1e-6


@query(
    "q_psi_drift",
    oracle=f"""
    with binned as (
        select least(cast(floor(o_totalprice / {PSI_BIN_WIDTH}) as bigint),
                     {PSI_N_BINS - 1}) as bin,
               o_orderkey % 2 = 0 as in_a
        from orders
    ),
    a as (select bin, count(*) as n_a from binned where in_a group by bin),
    b as (select bin, count(*) as n_b from binned where not in_a
          group by bin),
    j as (
        select coalesce(a.bin, b.bin) as bin,
               coalesce(n_a, 0) as n_a, coalesce(n_b, 0) as n_b
        from a full join b on a.bin = b.bin
    ),
    t as (select sum(n_a) as tot_a, sum(n_b) as tot_b from j)
    select bin, cast(n_a as bigint) as n_a, cast(n_b as bigint) as n_b,
           round((cast(n_b as double) / tot_b - cast(n_a as double) / tot_a)
                 * ln((cast(n_b as double) / tot_b + {PSI_EPS})
                      / (cast(n_a as double) / tot_a + {PSI_EPS})), 6)
               as psi_term
    from j cross join t
    """,
    tags=("agg", "quality"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift detection between two cohorts
    (ML monitoring: has the feature distribution shifted between the
    training period and today?; SAS: PROC FREQ bins + a DATA-step
    PSI formula).

    Fixed-width bins (not quantile bins) keep the bin grid
    engine-exact; epsilon-smoothed PSI terms tolerate empty bins.
    Sum of psi_term > 0.2 is the conventional 'investigate' alarm.

    Scale: one scan -> (bin, cohort) conditional agg (<= 2*bins rows
    shuffled), full-join of the two tiny histograms, broadcast grand
    totals. The cohort split here is a parity-keyed stand-in for
    'last month vs this month' partition predicates.
    """
    orders = load_table(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / PSI_BIN_WIDTH).cast("long"),
            F.lit(PSI_N_BINS - 1).cast("long"),
        ).alias("bin"),
        (F.col("o_orderkey") % 2 == 0).alias("in_a"),
    )
    a = (
        binned.filter("in_a")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        binned.filter(~F.col("in_a"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    j = (
        a.join(b, "bin", "full")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    totals = j.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    frac_a = F.col("n_a").cast("double") / F.col("tot_a")
    frac_b = F.col("n_b").cast("double") / F.col("tot_b")
    return j.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_a",
        "n_b",
        F.round(
            (frac_b - frac_a) * F.log((frac_b + PSI_EPS) / (frac_a + PSI_EPS)),
            6,
        ).alias("psi_term"),
    )


# -- class balance per split -----------------------------------------


@query(
    "q_class_balance",
    oracle="""
    with s as (
        select case when vec_id % 10 < 8 then 'train'
                    when vec_id % 10 = 8 then 'val'
                    else 'test' end as split,
               label
        from embeddings
    ),
    c as (select split, label, count(*) as n from s group by split, label),
    t as (select split, count(*) as n_split from s group by split)
    select c.split, c.label, cast(c.n as bigint) as n,
           round(cast(c.n as double) / t.n_split, 6) as frac
    from c join t on c.split = t.split
    """,
    tags=("agg", "llm"),
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-distribution audit per train/val/test split (ML dataprep:
    catch a split whose class mix diverges before training on it;
    SAS: PROC FREQ TABLES split*label / OUTPCT).

    Scale: two conditional aggs over one scan (cube-shaped but tiny
    output), broadcast join of per-split totals. The mod-10 split here
    is the deterministic stand-in for the sha-bucket assignment of
    q_split_hash — same audit, any assignment.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    split = (
        F.when(F.col("vec_id") % 10 < 8, "train")
        .when(F.col("vec_id") % 10 == 8, "val")
        .otherwise("test")
    )
    s = emb.select(split.alias("split"), "label")
    c = s.groupBy("split", "label").agg(F.count(F.lit(1)).alias("n"))
    t = s.groupBy("split").agg(F.count(F.lit(1)).alias("n_split"))
    return c.join(F.broadcast(t), "split").select(
        "split",
        "label",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_split"), 6).alias(
            "frac"
        ),
    )


# -- right-to-be-forgotten purge -------------------------------------


@query(
    "q_forget_user",
    oracle="""
    with forget as (
        select c_custkey from customer
        where c_acctbal < 0 and c_custkey % 3 = 0
    ),
    tot as (
        select event_type, count(*) as n_total from events group by event_type
    ),
    kept as (
        select event_type, count(*) as n_kept
        from events e
        where not exists (select 1 from forget f
                          where f.c_custkey = e.user_id)
        group by event_type
    )
    select tot.event_type, cast(n_total as bigint) as n_total,
           cast(coalesce(n_kept, 0) as bigint) as n_kept,
           cast(n_total - coalesce(n_kept, 0) as bigint) as n_purged
    from tot left join kept on tot.event_type = kept.event_type
    """,
    tags=("join", "governance"),
)
def q_forget_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge cascade with audit counts (GDPR
    delete: a small deletion list anti-joined against a huge fact
    table; SAS: MERGE + IF ina AND NOT inb).

    The deletion list (negative-balance customers, deterministic
    subset) BROADCASTS; the purge is one anti-join pass over events
    — no shuffle of the fact side at all. The audit table proves the
    cascade: per event type, total vs kept vs purged.

    Scale: this is THE pattern for compliance deletes at 100 TB —
    broadcast anti-join (or bloom-filter prefilter for deletion lists
    too big to broadcast) followed by a partition-overwrite write.
    """
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    forget = cust.filter(
        (F.col("c_acctbal") < 0) & (F.col("c_custkey") % 3 == 0)
    ).select("c_custkey")
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_total"))
    kept = (
        ev.join(
            F.broadcast(forget),
            ev.user_id == forget.c_custkey,
            "left_anti",
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return tot.join(kept, "event_type", "left").select(
        "event_type",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_purged"
        ),
    )


# -- incremental dedup against a historical master -------------------

SEEN_BOUNDARY = 250


@query(
    "q_incremental_dedup",
    oracle=f"""
    with seen as (
        select distinct sha256(text) as sha from documents
        where doc_id < {SEEN_BOUNDARY}
    ),
    batch as (
        select doc_id, sha256(text) as sha from documents
        where doc_id >= {SEEN_BOUNDARY}
    )
    select min(doc_id) as doc_id, sha,
           cast(count(*) as bigint) as n_batch_copies
    from batch b
    where not exists (select 1 from seen s where s.sha = b.sha)
    group by sha
    """,
    tags=("dedup", "llm"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch against a historical digest
    master (LLM corpus building: each crawl drop dedups against
    everything already ingested WITHOUT rescanning it; SAS: PROC SORT
    NODUPKEY against a master lookup).

    Two stages, both digest-keyed: anti-join the batch against the
    seen-set (drops cross-batch dups), then keep-first-by-doc_id
    within the batch (drops intra-batch dups). Only 32-byte digests
    ever shuffle.

    Scale: the seen-set at 100 TB is a parquet table of digests —
    the anti-join shuffles digests only, or broadcasts a bloom
    filter of them; the min-agg keep-first is one combinable
    aggregate. History is never rescanned.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_sha = docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha")
    )
    seen = (
        with_sha.filter(F.col("doc_id") < SEEN_BOUNDARY)
        .select("sha")
        .distinct()
    )
    batch = with_sha.filter(F.col("doc_id") >= SEEN_BOUNDARY)
    fresh = batch.join(seen, "sha", "left_anti")
    return fresh.groupBy("sha").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_batch_copies"),
    ).select("doc_id", "sha", "n_batch_copies")


# -- dedup-rate report per source ------------------------------------


@query(
    "q_dedup_stats",
    oracle="""
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(count(distinct sha256(text)) as bigint) as n_unique,
           round(1.0 - cast(count(distinct sha256(text)) as double)
                     / count(*), 6) as dup_rate
    from documents
    group by source
    """,
    tags=("dedup", "quality"),
)
def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate report per source (corpus ops: which feeds are
    polluting the corpus with copies; SAS: PROC SQL count vs
    count-distinct per BY group).

    Scale: distinct-count expands (source, digest) then re-aggregates
    — the standard two-stage distinct agg; at extreme cardinality the
    documented swap is approx_count_distinct in the same shape
    (q_approx_distinct attests the sketch's error bound).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_unique"),
        F.round(
            1.0
            - F.countDistinct(F.sha2(F.col("text"), 256)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )


# -- cross-source duplicate matrix -----------------------------------


@query(
    "q_cross_source_dups",
    oracle="""
    with pairs as (
        select distinct sha256(text) as sha, source from documents
    )
    select a.source as src1, b.source as src2,
           cast(count(*) as bigint) as n_shared
    from pairs a join pairs b on a.sha = b.sha and a.source < b.source
    group by a.source, b.source
    """,
    tags=("dedup", "quality"),
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate matrix: for each source pair, how many
    distinct documents appear in BOTH (corpus ops: which feeds
    overlap, the input to dedup-priority decisions; SAS: PROC SQL
    self-join on a digest key).

    Scale: the self-join key is the 32-byte digest, and each side is
    already (digest, source)-distinct, so join fan-out per digest is
    bounded by the source count — never by corpus size. (Duplicates
    exist only at sf0.1+ in the fixtures — empty-but-correct below.)
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.sha2(F.col("text"), 256).alias("sha"), "source"
    ).distinct()
    a = pairs.alias("a")
    b = pairs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sha") == F.col("b.sha"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src1"), F.col("b.source").alias("src2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# -- referential-integrity audit --------------------------------------


@query(
    "q_referential_integrity",
    oracle="""
    select 'lineitem.l_orderkey -> orders' as fk,
           cast((select count(*) from lineitem l
                 where not exists (select 1 from orders o
                                   where o.o_orderkey = l.l_orderkey))
                as bigint) as n_orphans,
           (select count(*) from lineitem l
            where not exists (select 1 from orders o
                              where o.o_orderkey = l.l_orderkey)) = 0
               as passed
    union all
    select 'orders.o_custkey -> customer',
           cast((select count(*) from orders o
                 where not exists (select 1 from customer c
                                   where c.c_custkey = o.o_custkey))
                as bigint),
           (select count(*) from orders o
            where not exists (select 1 from customer c
                              where c.c_custkey = o.o_custkey)) = 0
    union all
    select 'customer.c_nationkey -> nation',
           cast((select count(*) from customer c
                 where not exists (select 1 from nation n
                                   where n.n_nationkey = c.c_nationkey))
                as bigint),
           (select count(*) from customer c
            where not exists (select 1 from nation n
                              where n.n_nationkey = c.c_nationkey)) = 0
    """,
    tags=("quality", "join", "governance"),
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the schema's three core
    relationships (warehouse DQ: the referential-integrity contract a
    lakehouse has no constraints to enforce; SAS: MERGE IN= flags +
    IF a AND NOT b counts).

    Each relationship is one LEFT ANTI join counted — child rows
    whose parent key does not exist. All three pass on the TPC-H-ish
    fixtures; the value is the attested harness (a corrupted load
    flips `passed` and the hash).

    Scale: anti-joins broadcast the parent KEY projection when small,
    else shuffle on the key; counts are one number per relationship.
    The union of three 1-row aggregates is driver-trivial.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def orphan_count(child: DataFrame, ck: str, parent: DataFrame, pk: str, fk: str) -> DataFrame:
        n = (
            child.join(
                parent.select(pk), child[ck] == parent[pk], "left_anti"
            ).agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return n.select(
            F.lit(fk).alias("fk"),
            "n_orphans",
            (F.col("n_orphans") == 0).alias("passed"),
        )

    return (
        orphan_count(li, "l_orderkey", orders, "o_orderkey",
                     "lineitem.l_orderkey -> orders")
        .unionByName(
            orphan_count(orders, "o_custkey", cust, "c_custkey",
                         "orders.o_custkey -> customer"))
        .unionByName(
            orphan_count(cust, "c_nationkey", nation, "n_nationkey",
                         "customer.c_nationkey -> nation"))
    )


# -- k-anonymity audit -------------------------------------------------

#: Privacy threshold: a quasi-identifier combination shared by fewer
#: than K individuals is re-identification-risky.
K_ANON = 5


@query(
    "q_k_anonymity",
    oracle=f"""
    with qi as (
        select c_nationkey,
               c_mktsegment,
               cast(floor(c_acctbal / 1000) as bigint) as bal_band,
               count(*) as n
        from customer
        group by 1, 2, 3
    )
    select cast(c_nationkey as bigint) as nationkey,
           cast(count(*) as bigint) as n_combos,
           cast(sum(case when n < {K_ANON} then 1 else 0 end) as bigint)
               as risky_combos,
           cast(sum(case when n < {K_ANON} then n else 0 end) as bigint)
               as exposed_rows,
           cast(min(n) as bigint) as k_anonymity
    from qi
    group by c_nationkey
    """,
    tags=("governance", "privacy", "quality"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy
    counterpart of the PII scrubber (q_pii_redact removes direct
    identifiers; this measures whether the REMAINING attribute
    combination still singles people out). Quasi-identifier =
    (nation, market segment, account-balance band); a combination
    shared by fewer than K_ANON=5 individuals is re-identification-
    risky (Sweeney's k-anonymity; the release rule behind census/
    medical microdata and the same audit an LLM-training pipeline runs
    before shipping user-derived metadata). Per nation: distinct
    combos, risky combos, exposed individuals, and the dataset's k
    (min combo size — the publishable anonymity level).

    Plan: one map-side-combined groupBy on the quasi-identifier tuple
    (bounded domain: nations x segments x bands), then a second
    O(combos) rollup to nations. Shuffle rows = distinct combos, not
    customers; no window, no join — the shape holds at any corpus
    size."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    risky = F.when(F.col("n") < K_ANON, 1).otherwise(0)
    exposed = F.when(F.col("n") < K_ANON, F.col("n")).otherwise(F.lit(0))
    return qi.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_combos"),
        F.sum(risky).cast("long").alias("risky_combos"),
        F.sum(exposed).cast("long").alias("exposed_rows"),
        F.min("n").cast("long").alias("k_anonymity"),
    )


# -- incremental NEAR-dup vs historical master -------------------------


#: Brute-force batch x master ground truth at threshold 0.8 — shared
#: verbatim by the scan-side form (q_incremental_neardup) and the
#: persisted-index serving form (q_neardup_index_serve): both must
#: compute the SAME relation, from different plans.
_INC_NEARDUP_ORACLE = """
    with batch as (
        select doc_id, text from documents where doc_id % 3 = 0
    ),
    master as (
        select doc_id, text from documents where doc_id % 3 <> 0
        union all
        select doc_id + 1000000 as doc_id, text || ' zzz' as text
        from batch where doc_id % 5 = 0
    ),
    shb as (
        select doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                   i -> array_to_string(
                            (string_split(text, ' '))[i:i+2], ' '))) as s
        from batch
    ),
    shm as (
        select doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                   i -> array_to_string(
                            (string_split(text, ' '))[i:i+2], ' '))) as s
        from master
    )
    select b.doc_id as batch_id, m.doc_id as master_id,
           round(len(list_intersect(b.s, m.s)) * 1.0
                 / len(list_distinct(list_concat(b.s, m.s))), 6) as jaccard
    from shb b, shm m
    where round(len(list_intersect(b.s, m.s)) * 1.0
                / len(list_distinct(list_concat(b.s, m.s))), 6) >= 0.8
    """


def _neardup_fixture(spark: SparkSession, sf_dir: str):
    """(batch, master) for the incremental near-dup fixture: batch =
    doc_id % 3 == 0; master = the rest PLUS planted one-token-appended
    variants of every 15th doc (Jaccard s/(s+1) >= 0.8 for s >= 4
    distinct shingles, engine-identical)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    planted = batch.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"),
    )
    master = docs.filter(F.col("doc_id") % 3 != 0).unionByName(planted)
    return batch, master


@query(
    "q_incremental_neardup",
    oracle=_INC_NEARDUP_ORACLE,
    tags=("dedup", "llm", "governance", "scale"),
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup against the historical master — the
    production per-snapshot dedup shape (FineWeb/CCNet dedupe each
    crawl against everything already kept): q_incremental_dedup is
    the exact-hash form; this is its fuzzy twin, flagging new-batch
    docs whose 3-gram Jaccard against ANY master doc reaches 0.8,
    via operators/minhash.near_dup_pairs_between. Master docs are
    never compared to each other — the cost a naive full-corpus
    re-dedup pays on every ingest.

    Fixture: batch = doc_id % 3 == 0; master = the rest PLUS planted
    one-token-appended variants of every 15th doc (appending one token
    adds exactly one trailing 3-gram shingle and keeps every original
    one, so the planted pair's Jaccard is s/(s+1) for a doc with s
    distinct shingles — >= 0.8 whenever s >= 4, computed identically
    by both engines; the oracle is the brute-force batch x master
    ground truth).

    Scale: master band rows are scan-side expressions (production
    stores them with the corpus) and never shuffle; the bounded batch
    side broadcasts through the size gate, making candidates a
    map-side lookup over the master, then exact verification re-joins
    shingles for candidate ids only. LSH recall at j >= 0.8 with 32x4
    banding is ~1 - 5e-8 (the attested q_near_dup_minhash math)."""
    from sas_etl_spark.operators.minhash import near_dup_pairs_between

    batch, master = _neardup_fixture(spark, sf_dir)
    return near_dup_pairs_between(batch, master, threshold=0.8)


def _ensure_neardup_index(spark: SparkSession, sf_dir: str, master: DataFrame) -> str:
    """Build-if-absent: the application's persisted band-signature
    index over the fixture master (scratch.artifact_dir) — shared by
    the batch serve (q_neardup_index_serve) and the streaming ingest
    twin (q_stream_neardup in io_stream.py), which is the point: one
    artifact, many consumers."""
    from sas_etl_spark.operators.minhash import build_neardup_index
    from sas_etl_spark.scratch import artifact_dir

    return artifact_dir(
        spark, "neardup_index", sf_dir, "bands", lambda d: build_neardup_index(master, d)
    )


@query(
    "q_neardup_index_serve",
    oracle=_INC_NEARDUP_ORACLE,
    tags=("dedup", "llm", "governance", "scale", "index"),
)
def q_neardup_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup SERVING from a PERSISTED signature index — the
    build-once/serve-many regime split applied to MinHash-LSH, the
    same move q_ivf_build/q_ivf_serve made for ANN: the master
    corpus's band rows (operators/minhash.build_neardup_index — 32
    rows x 24 bytes per doc, document-length-independent) publish
    once as a versioned snapshot table, and every ingest batch
    queries THE ARTIFACT (neardup_query_index): batch band rows
    compute scan-side and broadcast through the size gate, candidates
    come from the index join, and the master corpus is touched only
    to re-join shingles for candidate ids (a semi-joined point read).
    q_incremental_neardup is the scan-side twin that recomputes
    master signatures per batch — the right shape for a one-off, and
    exactly the per-ingest cost this index amortizes away: at 100 TB
    the master signature pass IS the dedup bill, and it is paid once
    here instead of per crawl (FineWeb/CCNet re-dedup every snapshot
    against everything kept).

    Same fixture and the SAME oracle relation as
    q_incremental_neardup (shared SQL constant): a green hash proves
    the artifact-served pairs equal the brute-force ground truth —
    a stale index, a wrong band row, or a broken candidate join flips
    it."""
    from sas_etl_spark.operators.minhash import neardup_query_index

    batch, master = _neardup_fixture(spark, sf_dir)
    table_dir = _ensure_neardup_index(spark, sf_dir, master)
    return neardup_query_index(
        spark, table_dir, batch, master, threshold=0.8
    ).select("batch_id", "master_id", "jaccard")


@query(
    "q_neardup_mor_serve",
    oracle=_INC_NEARDUP_ORACLE,
    tags=("dedup", "llm", "governance", "scale", "index"),
)
def q_neardup_mor_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup serving over an UNCOMPACTED merge-on-read delta — the
    ingest-cadence maintenance shape for the persisted signature
    index (VERDICT r12 item 1): the index is built on only HALF the
    master corpus, the other half lands via
    append_neardup_index(mode="mor") — an O(batch) bands_delta
    publish, the base table untouched (the LSM L0 pattern ivf_upsert
    established; the COW twin rewrites the whole bands table per
    ingest, O(index) — at a 1000:1 master/batch ratio that rewrite IS
    the maintenance bill). Serving reads the MERGED view (base
    anti-join delta ids ∪ delta, size-gated broadcast) and the
    function REFUSES to answer if the delta is empty, so a green row
    proves the delta path actually served.

    Same fixture and the SAME oracle relation as
    q_incremental_neardup / q_neardup_index_serve (shared SQL
    constant): the oracle is the brute-force batch x FULL-master
    ground truth, so a green hash proves base ∪ delta equals the
    full-master index — a dropped delta row, a broken read-side
    merge, or a mis-keyed anti-join flips it. neardup_compact's
    fold-and-empty is pinned value-identical to this uncompacted view
    (and to the COW twin) by tests/test_round13_semantics.py."""
    from sas_etl_spark.operators.minhash import (
        _read_bands_delta_if_any,
        append_neardup_index,
        build_neardup_index,
        neardup_query_index,
    )
    from sas_etl_spark.scratch import artifact_dir

    batch, master = _neardup_fixture(spark, sf_dir)

    def build(table_dir: str) -> None:
        # base build + one uncompacted merge-on-read append
        build_neardup_index(master.filter(F.col("doc_id") % 2 == 0), table_dir)
        append_neardup_index(master.filter(F.col("doc_id") % 2 != 0), table_dir, mode="mor")

    table_dir = artifact_dir(spark, "neardup_mor", sf_dir, "bands", build)
    delta = _read_bands_delta_if_any(spark, table_dir)
    if delta is None or delta.limit(1).count() == 0:
        raise RuntimeError(
            "q_neardup_mor_serve requires an uncompacted bands_delta: "
            f"none found under {table_dir} — the MOR path did not run"
        )
    return neardup_query_index(
        spark, table_dir, batch, master, threshold=0.8
    ).select("batch_id", "master_id", "jaccard")


# -- two-sample Kolmogorov-Smirnov drift --------------------------------

#: Reference source for the KS comparison and the alpha=0.05 two-sample
#: critical coefficient (Smirnov's c(alpha) = sqrt(-ln(alpha/2)/2)).
KS_REF_SOURCE = "src0"
KS_COEFF = 1.358


@query(
    "q_ks_drift",
    oracle=f"""
    with corpus as (
        select source, n_chars from documents
        union all
        select 'src_drift' as source, n_chars + 150 as n_chars
        from documents where source = 'src1'
    ),
    vals as (select distinct n_chars from corpus),
    srcs as (select distinct source from corpus),
    hist as (
        select source, n_chars, count(*) as c
        from corpus group by source, n_chars
    ),
    grid as (
        select s.source, v.n_chars, coalesce(h.c, 0) as c
        from srcs s cross join vals v
        left join hist h on h.source = s.source and h.n_chars = v.n_chars
    ),
    ecdf as (
        select source, n_chars,
               sum(c) over (partition by source order by n_chars
                            rows between unbounded preceding
                            and current row) * 1.0
               / sum(c) over (partition by source) as e,
               sum(c) over (partition by source) as n
        from grid
    ),
    ref as (
        select n_chars, e as e0, n as n0 from ecdf
        where source = '{KS_REF_SOURCE}'
    )
    select ecdf.source,
           cast(any_value(ecdf.n) as bigint) as n_docs,
           round(max(abs(e - e0)), 6) as ks_d,
           round({KS_COEFF} * sqrt(1.0 / any_value(ecdf.n)
                                   + 1.0 / any_value(n0)), 6) as ks_crit,
           max(abs(e - e0)) > {KS_COEFF}
               * sqrt(1.0 / any_value(ecdf.n) + 1.0 / any_value(n0))
               as drifted
    from ecdf join ref using (n_chars)
    where ecdf.source <> '{KS_REF_SOURCE}'
    group by ecdf.source
    """,
    tags=("governance", "quality", "stats"),
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per source — the
    distribution-shape complement of q_psi_drift (PSI bins and sums;
    KS takes the sup-norm of the ECDF gap, catching shifts PSI's
    binning smears). Each non-reference source's document-length
    distribution is tested against the KS_REF_SOURCE ('src0')
    reference: D = max over the value grid of |ECDF_s - ECDF_ref|,
    flagged against the alpha=0.05 two-sample critical value
    1.358 * sqrt((n1+n2)/(n1*n2)) — the training-corpus drift monitor
    run per ingest snapshot (did this crawl's length profile move?).
    The uniform fixture genuinely drifts nowhere, so a planted
    'src_drift' source (src1's lengths shifted +150, the established
    planted-fixture pattern) exercises the drifted=true branch while
    the real sources attest the false branch.

    Cross-engine determinism: every ECDF value is a ratio of exact
    integer counts evaluated on the same grid, so the max and the
    flag compare identical doubles; only the two output statistics
    round (6dp).

    Scale: the corpus collapses to a (source x distinct-value)
    HISTOGRAM at the scan-side groupBy (map-side combined); the ECDF
    windows walk grid rows — |sources| x |distinct lengths|, domain-
    bounded, never the corpus (the operators/quantiles.py posture).
    The reference column re-joins by value on the grid relation and
    broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("source", "n_chars").unionByName(
        docs.filter(F.col("source") == "src1").select(
            F.lit("src_drift").alias("source"),
            (F.col("n_chars") + 150).alias("n_chars"),
        )
    )
    vals = corpus.select("n_chars").distinct()
    srcs = corpus.select("source").distinct()
    hist = corpus.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        srcs.crossJoin(vals)
        .join(hist, ["source", "n_chars"], "left")
        .select("source", "n_chars", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ecdf = grid.select(
        "source",
        "n_chars",
        (F.sum("c").over(w_cum) * 1.0 / F.sum("c").over(w_all)).alias("e"),
        F.sum("c").over(w_all).alias("n"),
    )
    ref = ecdf.filter(F.col("source") == KS_REF_SOURCE).select(
        "n_chars", F.col("e").alias("e0"), F.col("n").alias("n0")
    )
    # sqrt(1/n1 + 1/n2), not sqrt((n1+n2)/(n1*n2)): same value, but the
    # int product n1*n2 would overflow long at 1e10-doc sources — and
    # the floating-point results of the two forms differ in the last
    # ulps, so both engines must use THIS form.
    crit = KS_COEFF * F.sqrt(
        1.0 / F.any_value("n") + 1.0 / F.any_value("n0")
    )
    return (
        ecdf.filter(F.col("source") != KS_REF_SOURCE)
        .join(F.broadcast(ref), "n_chars")
        .groupBy("source")
        .agg(
            F.any_value("n").cast("long").alias("n_docs"),
            F.round(F.max(F.abs(F.col("e") - F.col("e0"))), 6).alias(
                "ks_d"
            ),
            F.round(crit, 6).alias("ks_crit"),
            (F.max(F.abs(F.col("e") - F.col("e0"))) > crit).alias(
                "drifted"
            ),
        )
    )
