"""Round-15 semantics pins: the hypothesis-test statistics
(q_ttest_welch / q_mannwhitney / q_anova_oneway) checked against
independent numpy reference implementations on the smoke fixture, and
the perceptual-hash invariance the image-dedup lane rests on."""

from __future__ import annotations

import numpy as np
import pytest

from sas_etl_spark.queries.hypothesis_tests import (
    _SEGMENTS,
    _TT_A,
    _TT_B,
    q_anova_oneway,
    q_mannwhitney,
    q_ttest_welch,
)
from tests.conftest import SF_SMOKE


def _orders_with_segment():
    import duckdb

    return duckdb.sql(
        f"""
        select o.o_orderpriority, c.c_mktsegment,
               round(o.o_totalprice * 100) as cents
        from '{SF_SMOKE}/orders.parquet' o
        join '{SF_SMOKE}/customer.parquet' c on o.o_custkey = c.c_custkey
        """
    ).df()


def test_ttest_welch_matches_numpy_reference(spark):
    df = _orders_with_segment()
    got = {
        r.o_orderpriority: r
        for r in q_ttest_welch(spark, SF_SMOKE).collect()
    }
    for prio, grp in df.groupby("o_orderpriority"):
        a = grp.loc[grp.c_mktsegment == _TT_A, "cents"].to_numpy()
        b = grp.loc[grp.c_mktsegment == _TT_B, "cents"].to_numpy()
        if len(a) < 2 or len(b) < 2:
            continue
        va, vb = a.var(ddof=1), b.var(ddof=1)
        se2 = va / len(a) + vb / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        dfw = se2**2 / (
            (va / len(a)) ** 2 / (len(a) - 1)
            + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        r = got[prio]
        assert (r.n1, r.n2) == (len(a), len(b))
        assert r.mean1 == pytest.approx(a.mean() / 100, abs=1e-4)
        assert r.t_stat == pytest.approx(t, abs=1e-4)
        assert r.df_welch == pytest.approx(dfw, rel=1e-6)


def _avg_ranks(values: np.ndarray) -> np.ndarray:
    """Average ranks with ties (1-based), no scipy."""
    order = np.argsort(values, kind="stable")
    ranks = np.empty(len(values), dtype=float)
    sv = values[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def test_mannwhitney_matches_numpy_reference(spark):
    import duckdb

    df = duckdb.sql(
        f"""select l_returnflag, l_linestatus,
                   cast(l_quantity as bigint) as q
            from '{SF_SMOKE}/lineitem.parquet'"""
    ).df()
    got = {r.l_returnflag: r for r in q_mannwhitney(spark, SF_SMOKE).collect()}
    for flag, grp in df.groupby("l_returnflag"):
        vals = grp.q.to_numpy()
        is1 = (grp.l_linestatus == "O").to_numpy()
        n1, n2 = int(is1.sum()), int((~is1).sum())
        if n1 == 0 or n2 == 0:
            continue
        ranks = _avg_ranks(vals.astype(float))
        w1 = ranks[is1].sum()
        u1 = w1 - n1 * (n1 + 1) / 2.0
        n = n1 + n2
        _, t_counts = np.unique(vals, return_counts=True)
        ties = float((t_counts.astype(np.float64) ** 3 - t_counts).sum())
        sigma2 = n1 * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1)))
        z = (u1 - n1 * n2 / 2.0) / np.sqrt(sigma2)
        r = got[flag]
        assert (r.n1, r.n2) == (n1, n2)
        assert r.u1 == pytest.approx(u1, abs=0.11)
        assert r.z_stat == pytest.approx(z, abs=1e-4)


def test_kruskal_wallis_matches_numpy_reference(spark):
    import duckdb

    from sas_etl_spark.queries.hypothesis_tests import (
        _KW_CLASSES,
        q_kruskal_wallis,
    )

    df = duckdb.sql(
        f"""select l_returnflag, cast(l_quantity as bigint) as q
            from '{SF_SMOKE}/lineitem.parquet'"""
    ).df()
    vals = df.q.to_numpy().astype(float)
    ranks = _avg_ranks(vals)
    n = len(vals)
    k = len(_KW_CLASSES)
    r2_over_n = sum(
        ranks[(df.l_returnflag == c).to_numpy()].sum() ** 2
        / int((df.l_returnflag == c).sum())
        for c in _KW_CLASSES
    )
    h = 12.0 / (n * (n + 1)) * r2_over_n - 3.0 * (n + 1)
    _, t_counts = np.unique(vals, return_counts=True)
    ties = float((t_counts.astype(np.float64) ** 3 - t_counts).sum())
    h_corr = h / (1.0 - ties / (n**3 - n))
    row = q_kruskal_wallis(spark, SF_SMOKE).collect()[0]
    assert row.n_obs == n and row.k_groups == k
    assert row.h_stat == pytest.approx(h_corr, rel=1e-6)


def test_anova_matches_numpy_reference(spark):
    df = _orders_with_segment()
    groups = [
        df.loc[df.c_mktsegment == seg, "cents"].to_numpy() / 100.0
        for seg in _SEGMENTS
    ]
    n = sum(len(g) for g in groups)
    k = len(groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = q_anova_oneway(spark, SF_SMOKE).collect()[0]
    assert row.n_obs == n and row.k_groups == k
    assert row.ss_between == pytest.approx(ssb, rel=1e-9)
    assert row.ss_within == pytest.approx(ssw, rel=1e-9)
    assert row.f_stat == pytest.approx(f, rel=1e-6)


def test_phash_brightness_invariance():
    """The aHash property the dedup groups rest on: a global brightness
    shift (no wraparound) leaves every threshold bit unchanged."""
    from sas_etl_spark.operators.multimodal import _phash_row

    def phash(arr: np.ndarray, grid: int = 4) -> int:
        h, w = arr.shape[:2]
        gray = arr.astype(np.int64).sum(axis=2) // 3
        bx = (np.arange(w) * grid) // w
        by = (np.arange(h) * grid) // h
        cell = (by[:, None] * grid + bx[None, :]).ravel()
        cn = np.bincount(cell, minlength=grid * grid)
        cs = np.bincount(cell, weights=gray.ravel(), minlength=grid * grid)
        cs = cs.astype(np.int64)
        total, ntot = int(cs.sum()), w * h
        bits = cs * ntot > total * cn
        return int((bits.astype(np.int64) << np.arange(grid * grid)).sum())

    rng = np.random.default_rng(15)
    base = rng.integers(0, 180, size=(12, 16, 3), dtype=np.int64)
    shifted = base + 60  # stays < 256: no mod wraparound
    assert phash(base) == phash(shifted)
    # and the image_phash lane's reducer agrees with the reference formula
    for arr in (base, shifted):
        assert _phash_row(0, arr, grid=4)[-1] == phash(arr)
