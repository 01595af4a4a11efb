"""Brute-force verification of the distributed nonparametric stats
(operators/nonparam.py): the skew.global_prefix prefix-sum machinery
must reproduce naive all-pairs / full-sort answers exactly."""

import duckdb
import numpy as np
import pytest

from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_mannwhitney_matches_brute_pair_count(spark, duck):
    a = [
        r[0]
        for r in duck.sql(
            "SELECT CAST(round(o_totalprice*100) AS BIGINT) FROM orders "
            "WHERE o_orderpriority = '1-URGENT'"
        ).fetchall()
    ]
    b = [
        r[0]
        for r in duck.sql(
            "SELECT CAST(round(o_totalprice*100) AS BIGINT) FROM orders "
            "WHERE o_orderpriority = '5-LOW'"
        ).fetchall()
    ]
    av, bv = np.array(a), np.array(b)
    # brute 2U = 2·#(a>b) + #(a=b) over all pairs
    u2 = int(2 * (av[:, None] > bv[None, :]).sum()
             + (av[:, None] == bv[None, :]).sum())
    from collections import Counter

    ties = Counter(a) + Counter(b)
    tie_term = sum(t**3 - t for t in ties.values())
    [row] = QUERIES["mannwhitney_u_priority"](spark, SF).collect()
    assert row["n_urgent"] == len(a)
    assert row["n_low"] == len(b)
    assert row["u2_urgent"] == u2
    assert row["tie_term"] == tie_term


def test_ks_matches_brute_ecdf(spark, duck):
    a = sorted(
        r[0]
        for r in duck.sql(
            "SELECT CAST(round(c_acctbal*100) AS BIGINT) FROM customer "
            "WHERE c_mktsegment = 'BUILDING'"
        ).fetchall()
    )
    b = sorted(
        r[0]
        for r in duck.sql(
            "SELECT CAST(round(c_acctbal*100) AS BIGINT) FROM customer "
            "WHERE c_mktsegment = 'MACHINERY'"
        ).fetchall()
    )
    na, nb = len(a), len(b)
    av, bv = np.array(a), np.array(b)
    grid = np.unique(np.concatenate([av, bv]))
    cuma = np.searchsorted(av, grid, side="right")
    cumb = np.searchsorted(bv, grid, side="right")
    d_num = int(np.abs(cuma.astype(object) * nb - cumb.astype(object) * na).max())
    [row] = QUERIES["ks_two_sample_segments"](spark, SF).collect()
    assert row["n_building"] == na
    assert row["n_machinery"] == nb
    assert row["d_numerator"] == d_num
    assert row["d_ppm"] == d_num * 1_000_000 // (na * nb)


def test_ols_trend_matches_numpy(spark, duck):
    rows = QUERIES["orders_yearly_trend_ols"](spark, SF).collect()
    assert rows, "expected at least one year"
    daily = duck.sql(
        "SELECT CAST(year(o_orderdate) AS BIGINT) yr, "
        "dayofyear(o_orderdate) x, "
        "SUM(CAST(round(o_totalprice*100) AS HUGEINT)) y "
        "FROM orders GROUP BY 1, 2"
    ).fetchall()
    by_year: dict = {}
    for yr, x, y in daily:
        by_year.setdefault(yr, []).append((int(x), int(y)))
    for r in rows:
        pts = by_year[r["yr"]]
        assert r["n_days"] == len(pts)
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope = np.polyfit(xs, ys, 1)[0]
        got = r["slope_ppm_cents_per_day"] / 1e6
        # exact integer ppm truncation vs float OLS: within one ppm
        assert abs(got - slope) <= abs(slope) * 1e-9 + 2e-6, (
            r["yr"],
            got,
            slope,
        )


def test_prefix_sum_window_is_pid_partitioned(spark, monkeypatch):
    """skew.global_prefix's running-sum window partitions by pid — K
    partitions, never a data-sized single-partition window (the
    registry-wide sweep in test_plans.py also covers this). The window
    runs before the helper's checkpoint, so it is checked on the frame
    the helper checkpoints: the returned plan starts at the barrier."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.operators import skew
    from sample_emr_on_eks_fgac_iceberg_spark.plans import (
        explain_str,
        global_windows,
    )

    checkpointed = []
    real = skew.materialize_once
    monkeypatch.setattr(
        skew, "materialize_once", lambda df: checkpointed.append(df) or real(df)
    )
    df = spark.range(100).select((F.col("id") % 7).alias("v"), "id")
    skew.global_prefix(df, ["v", "id"], {"r": F.lit(1)}, inclusive=False)
    [barrier_input] = checkpointed
    assert not global_windows(barrier_input)
    assert "windowspecdefinition(pid#" in explain_str(barrier_input, "simple")


def test_theilsen_matches_brute_median_of_slopes(spark, duck):
    daily = duck.sql(
        "SELECT CAST(year(o_orderdate) AS BIGINT) yr, "
        "dayofyear(o_orderdate) x, "
        "SUM(CAST(round(o_totalprice*100) AS HUGEINT)) y "
        "FROM orders GROUP BY 1, 2"
    ).fetchall()
    by_year: dict = {}
    for yr, x, y in daily:
        by_year.setdefault(yr, []).append((int(x), int(y)))

    def trunc_div(a: int, b: int) -> int:
        s = 1 if a >= 0 else -1
        return s * (abs(a) * 1_000_000 // b)

    rows = QUERIES["theilsen_yearly_trend"](spark, SF).collect()
    assert rows
    for r in rows:
        pts = sorted(by_year[r["yr"]])
        slopes = sorted(
            trunc_div(y2 - y1, x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
        )
        assert r["n_pairs"] == len(slopes)
        assert r["median_slope_ppm"] == slopes[(len(slopes) + 1) // 2 - 1]


def test_rolling_7d_users_matches_brute(spark):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT DISTINCT user_id, CAST(ts AS DATE) FROM '{SF}/events.parquet'"
    ).fetchall()
    from collections import defaultdict

    by_day = defaultdict(set)
    for u, d in rows:
        by_day[d].add(u)
    import datetime

    got = {
        r["day"]: (r["dau_1d"], r["dau_7d"])
        for r in QUERIES["events_rolling_7d_users"](spark, SF).collect()
    }
    assert set(got) == set(by_day)
    for d, users in by_day.items():
        week = set()
        for k in range(7):
            week |= by_day.get(d - datetime.timedelta(days=k), set())
        assert got[d] == (len(users), len(week)), d


def test_spearman_matches_brute_average_ranks(spark, duck):
    xy = duck.sql(
        "SELECT CAST(round(c.c_acctbal*100) AS BIGINT) x, "
        "CAST(COALESCE(SUM(CAST(round(o.o_totalprice*100) AS HUGEINT)), 0) "
        "AS BIGINT) y "
        "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey, c.c_acctbal"
    ).fetchall()
    import numpy as np

    def avg_ranks(vals):
        a = np.asarray(vals, dtype=np.int64)
        order = np.argsort(a, kind="stable")
        ranks = np.empty(len(a), dtype=float)
        sorted_a = a[order]
        i = 0
        while i < len(a):
            j = i
            while j < len(a) and sorted_a[j] == sorted_a[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2  # average of 1-based ranks
            i = j
        return ranks

    rx = avg_ranks([p[0] for p in xy])
    ry = avg_ranks([p[1] for p in xy])
    rho = np.corrcoef(rx, ry)[0, 1]
    [row] = QUERIES["customers_spearman_balance_spend"](spark, SF).collect()
    assert row["n_customers"] == len(xy)
    assert abs(row["spearman_rho"] - rho) < 1e-9, (row["spearman_rho"], rho)


# ----------------------------------------------- round-13 additions
def test_kruskal_wallis_matches_brute_ranks(spark, duck):
    rows = duck.sql(
        "SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT) "
        "FROM orders"
    ).fetchall()
    vals = np.array([v for _, v in rows], dtype=np.int64)
    grps = np.array([g for g, _ in rows])
    # brute average ranks (1-based) with ties
    order = np.argsort(vals, kind="stable")
    ranks = np.empty(len(vals), dtype=np.float64)
    sv = vals[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # average of i+1..j
        i = j
    n = len(vals)
    a_exact = 0
    for g in np.unique(grps):
        s2 = int(round(2 * ranks[grps == g].sum()))  # doubled ranks: int
        ng = int((grps == g).sum())
        a_exact += (s2 * s2) // ng
    h_ppm = (3 * a_exact * 1_000_000) // (n * (n + 1)) - 3 * (n + 1) * 1_000_000
    from collections import Counter

    tie = sum(t**3 - t for t in Counter(vals.tolist()).values())
    tie_ppm = (tie * 1_000_000) // (n**3 - n)
    [row] = QUERIES["kruskal_wallis_priority"](spark, SF).collect()
    assert row["n_orders"] == n and row["k_groups"] == len(np.unique(grps))
    assert row["h_ppm"] == h_ppm
    assert row["tie_ppm"] == tie_ppm
    # the statistic is sane: H ≥ 0-ish (truncation can only shave ppm)
    assert row["h_ppm"] > -10


def test_kaplan_meier_matches_brute_product_limit(spark, duck):
    import datetime as dt
    import math

    rows = duck.sql(
        "SELECT o_custkey, MIN(o_orderdate), MAX(o_orderdate) "
        "FROM orders GROUP BY o_custkey"
    ).fetchall()
    maxd = max(r[2] for r in rows)
    cutoff = maxd - dt.timedelta(days=90)
    lifetimes = [( (last - first).days, 1 if last <= cutoff else 0)
                 for _, first, last in rows]
    n = len(lifetimes)
    from collections import defaultdict

    by_t = defaultdict(lambda: [0, 0])
    for t, e in lifetimes:
        by_t[t][0] += e
        by_t[t][1] += 1 - e
    surv, at_risk, expect = 1.0, n, {}
    for t in sorted(by_t):
        d, c = by_t[t]
        if d > 0:
            surv *= (at_risk - d) / at_risk
            expect[t] = (at_risk, d, c, surv)
        at_risk -= d + c
    got = {
        r["lifetime_days"]: (
            r["n_at_risk"], r["d_churned"], r["n_censored"],
            r["survival_ppm"],
        )
        for r in QUERIES["customer_churn_kaplan_meier"](spark, SF).collect()
    }
    assert set(got) == set(expect)
    for t, (nr, d, c, s) in expect.items():
        gnr, gd, gc, sppm = got[t]
        assert (gnr, gd, gc) == (nr, d, c), t
        # exp(Σln) vs the running float product: allow 1 ppm slack
        assert abs(sppm - round(s * 1_000_000)) <= 1, (t, sppm, s)
    # survival is monotone non-increasing over event times
    ts = sorted(got)
    sv = [got[t][3] for t in ts]
    assert all(a >= b for a, b in zip(sv, sv[1:]))


def test_xcorr_matches_numpy_corrcoef(spark):
    import duckdb as _d

    con = _d.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    daily = dict(
        con.sql(
            "SELECT CAST(ts AS DATE), COUNT(*) FROM events "
            "WHERE event_type='click' GROUP BY 1"
        ).fetchall()
    )
    pdaily = dict(
        con.sql(
            "SELECT CAST(ts AS DATE), COUNT(*) FROM events "
            "WHERE event_type='purchase' GROUP BY 1"
        ).fetchall()
    )
    import datetime as dt

    got = {
        r["lag_days"]: (r["n_days"], r["r_xcorr"])
        for r in QUERIES["events_click_purchase_xcorr"](spark, SF).collect()
    }
    for lag in range(8):
        xs, ys = [], []
        for day, x in daily.items():
            y = pdaily.get(day + dt.timedelta(days=lag))
            if y is not None:
                xs.append(x)
                ys.append(y)
        if len(xs) < 3:
            assert lag not in got
            continue
        r = float(np.corrcoef(xs, ys)[0, 1])
        assert got[lag][0] == len(xs)
        assert abs(got[lag][1] - r) < 1e-9, (lag, got[lag][1], r)


def test_dyadic_smoothing_exact_brute(spark):
    import datetime as dt

    import duckdb as _d

    con = _d.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    daily = dict(
        con.sql(
            "SELECT CAST(ts AS DATE), "
            "SUM(CAST(round(value*100) AS HUGEINT)) FROM events "
            "WHERE event_type='purchase' GROUP BY 1"
        ).fetchall()
    )
    got = {
        r["day"]: (r["wsum_cents"], r["wtotal"], r["smoothed_millicents"])
        for r in QUERIES["events_dyadic_smoothed_revenue"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(daily)
    for day in daily:
        wsum = wtot = 0
        for k in range(10):
            src = day - dt.timedelta(days=k)
            if src in daily:
                wsum += int(daily[src]) * (1 << (9 - k))
                wtot += 1 << (9 - k)
        assert got[day] == (wsum, wtot, (wsum * 1000) // wtot), day


def test_copula_grid_margins_balanced(spark, duck):
    rows = QUERIES["customers_balance_spend_copula_grid"](spark, SF).collect()
    n = duck.sql("SELECT COUNT(*) FROM customer").fetchone()[0]
    assert sum(r["n_customers"] for r in rows) == n
    lo, hi = n // 10, -(-n // 10)
    from collections import defaultdict

    xm, ym = defaultdict(int), defaultdict(int)
    for r in rows:
        assert 0 <= r["x_decile"] <= 9 and 0 <= r["y_decile"] <= 9
        xm[r["x_decile"]] += r["n_customers"]
        ym[r["y_decile"]] += r["n_customers"]
    # positional deciles: every margin bucket holds ⌊n/10⌋..⌈n/10⌉ rows
    assert all(lo <= v <= hi for v in xm.values()), xm
    assert all(lo <= v <= hi for v in ym.values()), ym
    assert len(xm) == len(ym) == 10


def test_nation_pearson_matches_numpy(spark, duck):
    rows = duck.sql(
        "SELECT c.c_nationkey, CAST(round(c.c_acctbal*100) AS BIGINT), "
        "CAST(COALESCE(SUM(CAST(round(o.o_totalprice*100) AS HUGEINT)), 0)"
        " AS BIGINT) "
        "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey, c.c_nationkey, c.c_acctbal"
    ).fetchall()
    from collections import defaultdict

    by_n = defaultdict(list)
    for nat, x, y in rows:
        by_n[nat].append((x, y))
    got = {
        r["nation"]: (r["n_customers"], r["slope_ppm"], r["pearson_r_ppm"])
        for r in QUERIES["nations_balance_spend_pearson"](spark, SF).collect()
    }
    for nat, pts in by_n.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        if len(pts) < 3 or np.var(xs) == 0:
            assert nat not in got
            continue
        r = float(np.corrcoef(xs, ys)[0, 1])
        slope = float(np.polyfit(xs, ys, 1)[0])
        n, slope_ppm, r_ppm = got[nat]
        assert n == len(pts)
        assert abs(r_ppm - round(r * 1e6)) <= 1, (nat, r_ppm, r)
        # truncated-ppm slope within 1 ppm + float-fit tolerance
        assert abs(slope_ppm - slope * 1e6) <= max(2, abs(slope) * 1), (
            nat, slope_ppm, slope,
        )


def test_wilcoxon_matches_brute_signed_ranks(spark, duck):
    rows = duck.sql(
        "SELECT o_custkey, "
        "SUM(CASE WHEN year(o_orderdate) < 1998 THEN "
        "CAST(round(o_totalprice*100) AS HUGEINT) ELSE 0 END), "
        "SUM(CASE WHEN year(o_orderdate) >= 1998 THEN "
        "CAST(round(o_totalprice*100) AS HUGEINT) ELSE 0 END), "
        "COUNT(*) FILTER (year(o_orderdate) < 1998), "
        "COUNT(*) FILTER (year(o_orderdate) >= 1998) "
        "FROM orders GROUP BY o_custkey"
    ).fetchall()
    diffs = [
        int(late - early)
        for _, early, late, ne, nl in rows
        if ne > 0 and nl > 0
    ]
    nz = [d for d in diffs if d != 0]
    # brute doubled average ranks of |d|
    order = sorted(range(len(nz)), key=lambda i: abs(nz[i]))
    ranks2 = [0] * len(nz)
    i = 0
    while i < len(nz):
        j = i
        while j < len(nz) and abs(nz[order[j]]) == abs(nz[order[i]]):
            j += 1
        for k in range(i, j):
            ranks2[order[k]] = (i + 1) + (j)  # 2·avg of (i+1..j)
        i = j
    w2p = sum(r for r, d in zip(ranks2, nz) if d > 0)
    w2m = sum(r for r, d in zip(ranks2, nz) if d < 0)
    from collections import Counter

    tie = sum(t**3 - t for t in Counter(abs(d) for d in nz).values())
    [row] = QUERIES["wilcoxon_signed_rank_halves"](spark, SF).collect()
    assert row["n_pairs"] == len(diffs)
    assert row["n_zero"] == len(diffs) - len(nz)
    assert row["w2_plus"] == w2p and row["w2_minus"] == w2m
    assert row["tie_term"] == tie
    # the doubled rank-sum identity: W2+ + W2- = m(m+1)
    m = len(nz)
    assert row["w2_plus"] + row["w2_minus"] == m * (m + 1)


def test_keyness_g2_matches_numpy(spark):
    import math

    import duckdb as _d

    con = _d.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    rows = con.sql(
        "SELECT lang, text FROM documents WHERE lang IN ('en','de')"
    ).fetchall()
    from collections import Counter

    ca, cb = Counter(), Counter()
    for lang, text in rows:
        toks = [w for w in text.strip().lower().split() if w]
        (ca if lang == "en" else cb).update(toks)
    ta, tb = sum(ca.values()), sum(cb.values())
    got = {
        r["word"]: (r["n_en"], r["n_de"], r["g2_milli"])
        for r in QUERIES["text_keyness_loglik_en_de"](spark, SF).collect()
    }
    assert len(got) == 20
    for word, (a, b, g2m) in got.items():
        assert ca.get(word, 0) == a and cb.get(word, 0) == b
        ea = (a + b) * ta / (ta + tb)
        eb = (a + b) * tb / (ta + tb)
        g2 = 2 * (
            (a * math.log(a / ea) if a else 0)
            + (b * math.log(b / eb) if b else 0)
        )
        assert abs(g2m - round(g2 * 1000)) <= 1, (word, g2m, g2)


def test_centroid_separation_consistent_with_inertia(spark):
    # the two cluster diagnostics share the centroid definition: every
    # label appears in both; nearest distances are symmetric-bounded
    sep = {
        r["label"]: r
        for r in QUERIES["embedding_centroid_separation"](spark, SF).collect()
    }
    inert = {
        r["label"]: r
        for r in QUERIES["embedding_cluster_inertia"](spark, SF).collect()
    }
    assert set(sep) == set(inert)
    k = len(sep)
    for label, r in sep.items():
        assert r["n_others"] == k - 1
        assert r["nearest_label"] != label
        assert r["nearest_dist_sq"] > 0
        # symmetry: my nearest's distance to me is ≤ its own nearest? not
        # necessarily — but the PAIR distance must agree in both directions
        other = r["nearest_label"]
        assert sep[other]["nearest_dist_sq"] <= r["nearest_dist_sq"]


def test_anova_f_matches_numpy(spark, duck):
    rows = duck.sql(
        "SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT) "
        "FROM orders"
    ).fetchall()
    groups: dict[str, list[int]] = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    arrs = [np.array(vs, dtype=np.float64) for vs in groups.values()]
    n = sum(len(a) for a in arrs)
    k = len(arrs)
    grand = np.concatenate(arrs).mean()
    ssb = sum(len(a) * (a.mean() - grand) ** 2 for a in arrs)
    ssw = sum(((a - a.mean()) ** 2).sum() for a in arrs)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    eta2 = ssb / (ssb + ssw)
    [row] = QUERIES["anova_f_priority"](spark, SF).collect()
    assert row["k_groups"] == k
    assert row["n_total"] == n
    # numpy centers first (different float path) — agree to 1e-6 rel
    assert abs(row["f_ppm"] / 1e6 - f) <= 1e-6 * max(1.0, abs(f))
    assert abs(row["eta2_ppm"] / 1e6 - eta2) <= 1e-6


def test_mann_kendall_matches_brute_pairs(spark, duck):
    rows = duck.sql(
        "SELECT year(o_orderdate), o_orderdate, "
        "SUM(CAST(round(o_totalprice*100) AS HUGEINT)) "
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict[int, list[int]] = {}
    for yr, _, c in rows:
        series.setdefault(int(yr), []).append(int(c))
    got = {
        r["yr"]: r
        for r in QUERIES["mann_kendall_yearly_revenue"](spark, SF).collect()
    }
    assert set(got) == set(series)
    for yr, xs in series.items():
        conc = disc = ties = 0
        for i in range(len(xs)):
            for j in range(i + 1, len(xs)):
                if xs[j] > xs[i]:
                    conc += 1
                elif xs[j] < xs[i]:
                    disc += 1
                else:
                    ties += 1
        r = got[yr]
        assert r["n_days"] == len(xs)
        assert r["n_concordant"] == conc
        assert r["n_discordant"] == disc
        assert r["s_stat"] == conc - disc
        assert r["n_ties"] == ties


def test_theil_decomposition_matches_numpy(spark, duck):
    rows = duck.sql(
        "SELECT n.n_name, CAST(SUM(CAST(round(o.o_totalprice*100) AS "
        "HUGEINT)) AS DOUBLE) FROM orders o "
        "JOIN customer c ON c.c_custkey = o.o_custkey "
        "JOIN nation n ON n.n_nationkey = c.c_nationkey "
        "GROUP BY o.o_custkey, n.n_name"
    ).fetchall()
    by_nation: dict[str, list[float]] = {}
    for nm, x in rows:
        by_nation.setdefault(nm, []).append(x)
    allx = np.array([x for _, x in rows])
    n_tot, s_tot = len(allx), allx.sum()
    got = {
        r["nation"]: r
        for r in QUERIES["nation_revenue_theil"](spark, SF).collect()
    }
    assert set(got) == set(by_nation)
    # the decomposition identity: T_total = Σ s_g·T_g + Σ between_g
    mu = allx.mean()
    t_total = float((allx / mu * np.log(allx / mu)).sum() / n_tot)
    recon = 0.0
    for nm, xs in by_nation.items():
        a = np.array(xs)
        mug = a.mean()
        t_g = float((a / mug * np.log(a / mug)).sum() / len(a))
        s_g = a.sum() / s_tot
        r = got[nm]
        assert r["n_cust"] == len(xs)
        assert abs(r["income_share_ppm"] / 1e6 - s_g) <= 2e-6
        assert abs(r["theil_within_micro"] / 1e6 - t_g) <= 2e-6
        p_g = len(xs) / n_tot
        between = s_g * np.log(s_g / p_g)
        assert abs(r["theil_between_micro"] / 1e6 - between) <= 2e-6
        recon += s_g * (r["theil_within_micro"] / 1e6) + (
            r["theil_between_micro"] / 1e6
        )
    assert abs(recon - t_total) <= 5e-5


def test_acf_table_matches_numpy(spark, duck):
    rows = duck.sql(
        "SELECT o_orderdate, SUM(CAST(round(o_totalprice*100) AS HUGEINT)) "
        "FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    dates = {d: int(c) for d, c in rows}
    got = {
        r["lag"]: r
        for r in QUERIES["orders_daily_acf_table"](spark, SF).collect()
    }
    assert set(got) == set(range(1, 15))
    import datetime

    for lag in (1, 7, 14):
        xs, ys = [], []
        for d, c in dates.items():
            d2 = d + datetime.timedelta(days=lag)
            if d2 in dates:
                xs.append(c)
                ys.append(dates[d2])
        r = got[lag]
        assert r["n_pairs"] == len(xs)
        corr = np.corrcoef(np.array(xs, dtype=float),
                           np.array(ys, dtype=float))[0, 1]
        assert abs(r["acf_ppm"] / 1e6 - corr) <= 2e-6


def test_nelson_aalen_matches_brute_hazard(spark, duck):
    rows = duck.sql(
        "WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders) "
        "SELECT date_diff('day', MIN(o_orderdate), MAX(o_orderdate)), "
        "CASE WHEN MAX(o_orderdate) <= (SELECT md FROM maxd) "
        "- INTERVAL 90 DAY THEN 1 ELSE 0 END "
        "FROM orders GROUP BY o_custkey"
    ).fetchall()
    from collections import Counter

    d_at = Counter()
    m_at = Counter()
    for lt, ev in rows:
        m_at[lt] += 1
        d_at[lt] += ev
    got = {
        r["lifetime_days"]: r
        for r in QUERIES["customer_churn_nelson_aalen"](spark, SF).collect()
    }
    n_risk = len(rows)
    h = 0.0
    for lt in sorted(m_at):
        if d_at[lt] > 0:
            h += d_at[lt] / n_risk
            r = got[lt]
            assert r["n_at_risk"] == n_risk
            assert r["d_churned"] == d_at[lt]
            assert abs(r["hazard_micro"] / 1e6 - d_at[lt] / n_risk) <= 2e-6
            assert abs(r["na_cum_micro"] / 1e6 - h) <= 2e-6
        n_risk -= m_at[lt]
    assert set(got) == {lt for lt in m_at if d_at[lt] > 0}
    # cross-check against KM: exp(-H) ≥ S pointwise (standard bound)
    km = {
        r["lifetime_days"]: r["survival_ppm"] / 1e6
        for r in QUERIES["customer_churn_kaplan_meier"](spark, SF).collect()
    }
    import math

    for lt, r in got.items():
        assert math.exp(-r["na_cum_micro"] / 1e6) >= km[lt] - 1e-9


def test_runs_test_matches_brute_sequence(spark, duck):
    """Wald-Wolfowitz on the daily series: brute-force the run count
    and z from the sorted numpy sequence (split at the LOWER median,
    ties-to-median dropped)."""
    rows = duck.sql(
        "SELECT o_orderdate, SUM(CAST(round(o_totalprice*100) AS HUGEINT))"
        " FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    c = np.array([int(v) for _, v in rows])
    n = len(c)
    med = np.sort(c, kind="stable")[int(np.ceil(n / 2)) - 1]
    s = (c[c != med] > med).astype(int)
    runs = 1 + int(np.sum(s[1:] != s[:-1]))
    n1, n2 = int(s.sum()), int(len(s) - s.sum())
    m = n1 + n2
    mu = 2.0 * n1 * n2 / m + 1.0
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - m) / (m * m * (m - 1.0))
    z = (runs - mu) / np.sqrt(var)
    got = QUERIES["runs_test_daily_revenue"](spark, SF).collect()[0]
    assert got["n_above"] == n1
    assert got["n_below"] == n2
    assert got["n_runs"] == runs
    assert abs(got["z_ppm"] - round(z * 1e6)) <= 1


def test_atkinson_matches_numpy(spark, duck):
    """Atkinson(ε=1) = 1 − gmean/mean and MLD over per-customer
    revenue, brute-forced with numpy logs."""
    x = np.array(
        [
            float(int(v))
            for (v,) in duck.sql(
                "SELECT SUM(CAST(round(o_totalprice*100) AS HUGEINT))"
                " FROM orders GROUP BY o_custkey"
            ).fetchall()
        ]
    )
    mld = np.log(x.mean()) - np.log(x).mean()
    atk = 1.0 - np.exp(np.log(x).mean()) / x.mean()
    got = QUERIES["customers_atkinson_index"](spark, SF).collect()[0]
    assert got["n_cust"] == len(x)
    assert abs(got["mld_micro"] - round(mld * 1e6)) <= 1
    assert abs(got["atkinson_ppm"] - round(atk * 1e6)) <= 1


def test_fano_matches_numpy_over_span(spark):
    """Fano factor per event type: rebuild the zero-filled daily
    count vector over each type's min..max span and compare the
    sample var/mean ratio."""
    import pandas as pd

    ev = pd.read_parquet(f"{SF}/events.parquet", columns=["event_type", "ts"])
    ev["d"] = ev["ts"].dt.normalize()
    got = {
        r["event_type"]: r
        for r in QUERIES["events_fano_dispersion"](spark, SF).collect()
    }
    assert set(got) == set(ev["event_type"].unique())
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("d").size()
        span = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
        x = daily.reindex(span, fill_value=0).to_numpy(dtype=float)
        fano = x.var(ddof=1) / x.mean()
        row = got[et]
        assert row["n_days_span"] == len(span)
        assert row["n_days_active"] == int((x > 0).sum())
        assert row["n_events"] == int(x.sum())
        assert abs(row["fano_ppm"] - round(fano * 1e6)) <= 1


def test_corr_matrix_matches_numpy_corrcoef(spark):
    """All six Pearson pairs vs np.corrcoef over the cents-scaled
    lineitem measures."""
    import pandas as pd

    li = pd.read_parquet(
        f"{SF}/lineitem.parquet",
        columns=["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
    )
    cols = ["discount", "extendedprice", "quantity", "tax"]
    mat = np.corrcoef(
        np.stack(
            [np.round(li[f"l_{c}"].to_numpy() * 100) for c in cols]
        )
    )
    rows = QUERIES["lineitem_corr_matrix"](spark, SF).collect()
    assert len(rows) == 6
    for r in rows:
        i, j = cols.index(r["col_x"]), cols.index(r["col_y"])
        assert i < j
        assert r["n_rows"] == len(li)
        assert abs(r["corr_ppm"] - round(mat[i, j] * 1e6)) <= 1


def test_mahalanobis_matches_numpy_inverse(spark, duck):
    """Top-10 Mahalanobis d² vs numpy's explicit covariance inverse
    (the closed-form 2×2 path must agree with linalg.inv)."""
    rows = duck.sql(
        "SELECT CAST(round(c.c_acctbal*100) AS HUGEINT),"
        " SUM(CAST(round(o.o_totalprice*100) AS HUGEINT)), c.c_custkey"
        " FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey"
        " GROUP BY c.c_custkey, c.c_acctbal"
    ).fetchall()
    x = np.array([float(int(a)) for a, _, _ in rows])
    y = np.array([float(int(b)) for _, b, _ in rows])
    keys = np.array([int(k) for _, _, k in rows])
    pts = np.stack([x, y])
    cov = np.cov(pts, ddof=1)
    inv = np.linalg.inv(cov)
    cen = pts - pts.mean(axis=1, keepdims=True)
    d2 = np.einsum("in,ij,jn->n", cen, inv, cen)
    order = np.lexsort((keys, -d2))[:10]
    got = QUERIES["customer_mahalanobis_outliers"](spark, SF).collect()
    assert [r["c_custkey"] for r in got] == [int(keys[i]) for i in order]
    for r, i in zip(got, order):
        assert abs(r["d2_micro"] - round(d2[i] * 1e6)) <= 1


def test_assortativity_matches_numpy_over_edges(spark):
    """Bipartite degree assortativity vs a pandas/numpy brute force
    over the distinct edge list."""
    import pandas as pd

    li = pd.read_parquet(
        f"{SF}/lineitem.parquet", columns=["l_partkey", "l_suppkey"]
    ).drop_duplicates()
    dp = li.groupby("l_partkey")["l_suppkey"].size()
    ds = li.groupby("l_suppkey")["l_partkey"].size()
    a = dp.loc[li["l_partkey"]].to_numpy(dtype=float)
    b = ds.loc[li["l_suppkey"]].to_numpy(dtype=float)
    r = np.corrcoef(a, b)[0, 1]
    got = QUERIES["part_supplier_degree_assortativity"](spark, SF).collect()[0]
    assert got["n_edges"] == len(li)
    assert got["n_parts"] == len(dp)
    assert got["n_suppliers"] == len(ds)
    assert abs(got["mean_part_degree_milli"] - round(a.mean() * 1000)) <= 1
    assert abs(got["mean_supplier_degree_milli"] - round(b.mean() * 1000)) <= 1
    assert abs(got["assortativity_ppm"] - round(r * 1e6)) <= 1


def test_fano_single_day_type_yields_null(spark, tmp_path):
    """A type whose events all land on ONE calendar day has span 1 →
    0/0; both the Spark side and the DuckDB oracle must emit NULL
    (not NaN) so the gate canonicalizer cannot diverge."""
    import duckdb as _duck
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators import ORACLE

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 03:00", "2024-01-01 17:00",
                 "2024-02-01 00:00", "2024-02-03 00:00"]
            ),
            "user_id": [1, 1, 2, 2],
            "event_type": ["oneday", "oneday", "spread", "spread"],
            "value": [1.0, 1.0, 1.0, 1.0],
            "props": ["{}"] * 4,
        }
    )
    ev.to_parquet(tmp_path / "events.parquet")
    got = {
        r["event_type"]: r
        for r in QUERIES["events_fano_dispersion"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["oneday"]["fano_ppm"] is None
    assert got["oneday"]["n_days_span"] == 1
    assert got["spread"]["fano_ppm"] is not None
    con = _duck.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    orc = {r[0]: r for r in con.sql(ORACLE["events_fano_dispersion"]).fetchall()}
    assert orc["oneday"][4] is None
    assert orc["spread"][4] == got["spread"]["fano_ppm"]
