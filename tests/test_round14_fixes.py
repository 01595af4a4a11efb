"""Round-14 changes: Python UDTFs (the third leg of SURVEY §2.B
"UDF/UDAF/UDTF"), and the four ADVICE r13 fixes — comment-aware SQL
probes, orderByOrdinal-independent quantified probes, WITH TIES
function keys / targeted unprojected-key refusal, and the runs-test
empty-frame NULL guard."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import (
    SqlFrontend,
    _blank_sql_strings,
    rewrite_fetch_first,
    rewrite_quantified_subqueries,
    rewrite_text_sugar,
)
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse


# ------------------------------------------------------------ UDTFs
def test_word_spans_explodes_fixed_schema(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.udfs import register_udtfs

    register_udtfs(spark)
    spark.sql(
        "SELECT * FROM VALUES (1,'a b c d e'), (2,'x') AS t(id, txt)"
    ).createOrReplaceTempView("__r14_docs")
    rows = spark.sql(
        "SELECT d.id, s.span_idx, s.span_text, s.n_tokens "
        "FROM __r14_docs d, LATERAL word_spans(d.txt, 2) s "
        "ORDER BY d.id, s.span_idx"
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, 0, "a b", 2),
        (1, 1, "c d", 2),
        (1, 2, "e", 1),
        (2, 0, "x", 1),
    ]


def test_word_spans_null_and_empty_text(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.udfs import register_udtfs

    register_udtfs(spark)
    spark.sql(
        "SELECT * FROM VALUES (1, CAST(NULL AS STRING)), (2, '') AS t(id, txt)"
    ).createOrReplaceTempView("__r14_nulldocs")
    rows = spark.sql(
        "SELECT d.id, s.n_tokens, s.span_text "
        "FROM __r14_nulldocs d, LATERAL word_spans(d.txt, 4) s"
    ).collect()
    # NULL text yields no rows; '' splits to one empty token (the
    # string_split(text, ' ') contract the oracle shares)
    assert [tuple(r) for r in rows] == [(2, 1, "")]


def test_top_tokens_analyze_derives_schema(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.udfs import register_udtfs

    register_udtfs(spark)
    spark.sql(
        "SELECT * FROM VALUES (1,'c a b') AS t(id, txt)"
    ).createOrReplaceTempView("__r14_tt")
    df = spark.sql(
        "SELECT s.* FROM __r14_tt d, LATERAL top_tokens(d.txt, 2) s"
    )
    assert df.columns == ["tok1", "tok2", "n_toks"]
    assert [tuple(r) for r in df.collect()] == [("a", "b", 3)]


def test_top_tokens_rejects_nonpositive_constant(spark):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.udfs import register_udtfs

    register_udtfs(spark)
    spark.sql("SELECT 'a' AS txt").createOrReplaceTempView("__r14_tt0")
    with pytest.raises(Exception, match="positive constant"):
        spark.sql(
            "SELECT s.* FROM __r14_tt0 d, LATERAL top_tokens(d.txt, 0) s"
        ).collect()


def test_fgac_udtf_cannot_resurrect_filtered_rows(spark, sf_dir):
    """The consumer-path probe: lateral UDTF output over the governed
    corpus carries ONLY whitelisted languages — the row filter applies
    before the explode."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.fgac_queries import (
        _ANALYST,
        _GOV_LANGS,
        _gov_engine_for,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.operators.udfs import register_udtfs
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    sess = _gov_engine_for(spark, sf_dir).session_for(_ANALYST)
    register_udtfs(sess.spark)
    langs = {
        r["lang"]
        for r in sess.sql(
            "SELECT DISTINCT lang FROM documents_gov d, "
            "LATERAL word_spans(d.text, 16) s"
        ).collect()
    }
    assert langs <= set(_GOV_LANGS)
    # and the corpus genuinely contains other languages to resurrect
    all_langs = {
        r["lang"]
        for r in load_table(spark, sf_dir, "documents")
        .select("lang")
        .distinct()
        .collect()
    }
    assert not (all_langs <= set(_GOV_LANGS))


def test_udtf_registration_is_session_scoped(spark, sf_dir):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.fgac_queries import (
        _ANALYST,
        _gov_engine_for,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.operators.udfs import register_udtfs

    eng = _gov_engine_for(spark, sf_dir)
    sess_a = eng.session_for(_ANALYST)
    register_udtfs(sess_a.spark)
    sess_b = eng.session_for(_ANALYST)  # fresh newSession
    with pytest.raises(Exception, match="(?i)could not resolve|unresolvable"):
        sess_b.sql(
            "SELECT * FROM documents_gov d, LATERAL word_spans(d.text, 16) s"
        ).collect()


# ----------------------------------------- comment-aware SQL probes
def test_blank_sql_strings_blanks_comments_length_preserving():
    q = "SELECT a -- FETCH FIRST ( EXCLUDE\nFROM t /* ALL ( */ WHERE b = 1"
    out = _blank_sql_strings(q)
    assert len(out) == len(q)
    assert "FETCH" not in out and "EXCLUDE" not in out and "ALL" not in out
    assert "(" not in out  # comment parens can't unbalance scans
    assert "\n" in out  # newlines kept for positional probes


def test_strip_sql_strings_blanks_comments_and_literals():
    q = "SELECT 'keep -- not a comment', x -- real comment with 'quote\nFROM t"
    out = _blank_sql_strings(q)
    assert "not a comment" not in out
    assert "real comment" not in out and "quote" not in out
    # the literal's '--' must NOT have started a comment: FROM survives
    assert "FROM t" in out


def test_comment_does_not_trigger_sugar_rewrites():
    q = "SELECT a FROM t -- FETCH FIRST 5 ROWS ONLY"
    out = rewrite_text_sugar(q)
    assert out == q
    q2 = "SELECT a FROM t /* x > ALL (SELECT v FROM r) */ WHERE a = 1"
    out2 = rewrite_text_sugar(q2)
    assert out2 == q2


def test_trailing_comment_no_longer_blocks_fetch_anchor(fe14):
    # pre-fix, the end-of-statement anchor failed on a trailing comment
    df = fe14.execute("SELECT id FROM t ORDER BY id FETCH FIRST 2 ROWS ONLY -- top2")
    assert [r["id"] for r in df.collect()] == [1, 2]


def test_nested_block_comment_blanked():
    q = "SELECT a /* outer /* inner */ still comment */ FROM t"
    out = _blank_sql_strings(q)
    assert "comment" not in out and "inner" not in out
    assert out.endswith(" FROM t")


# ------------------------------- quantified probes without ordinals
def test_quantified_all_survives_orderByOrdinal_off(spark):
    spark.sql(
        "SELECT * FROM VALUES (5), (1), (9) AS t(v)"
    ).createOrReplaceTempView("__r14_q")
    q = rewrite_quantified_subqueries(
        "SELECT 6 > ALL (SELECT v FROM __r14_q WHERE v < 6) AS ok, "
        "6 > ALL (SELECT v FROM __r14_q) AS no"
    )
    assert "ORDER BY 1" not in q  # the ordinal form is gone
    old = spark.conf.get("spark.sql.orderByOrdinal")
    try:
        spark.conf.set("spark.sql.orderByOrdinal", "false")
        row = spark.sql(q).collect()[0]
    finally:
        spark.conf.set("spark.sql.orderByOrdinal", old)
    assert row["ok"] is True and row["no"] is False


# --------------------------------------------- WITH TIES (ADVICE r13)
@pytest.fixture()
def fe14(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh14"))
    t = spark.createDataFrame(
        [(1, 10, None, "a"), (2, 20, 20, "b"), (3, 20, None, "c"),
         (4, 30, 25, "d"), (5, 30, 30, "e"), (6, 30, None, "f")],
        "id int, x int, y int, s string",
    )
    wh.create_table("t", t.schema)
    wh.insert_into("t", t)
    return SqlFrontend(spark, wh)


def test_with_ties_function_key_single(fe14):
    # coalesce(y, x) has a top-level comma inside parens — one key
    df = fe14.execute(
        "SELECT id, coalesce(y, x) AS ky FROM t "
        "ORDER BY coalesce(y, x) DESC FETCH FIRST 2 ROWS WITH TIES"
    )
    got = sorted((r["id"], r["ky"]) for r in df.collect())
    # keys: 10,20,20,25,30,30 desc → top2 = 30,30 (ids 5 and 6)
    assert got == [(5, 30), (6, 30)]


def test_with_ties_unprojected_key_targeted_refusal():
    with pytest.raises(ValueError, match="projected columns"):
        rewrite_fetch_first(
            "SELECT id FROM t ORDER BY x FETCH FIRST 2 ROWS WITH TIES"
        )


def test_with_ties_qualified_key_unqualified_for_cte(fe14):
    df = fe14.execute(
        "SELECT o.id, o.x FROM t o "
        "ORDER BY o.x DESC FETCH FIRST 1 ROWS WITH TIES"
    )
    assert sorted(r["id"] for r in df.collect()) == [4, 5, 6]


def test_with_ties_aliased_expression_uses_alias():
    out, changed = rewrite_fetch_first(
        "SELECT id, x + 1 AS xp FROM t "
        "ORDER BY x + 1 DESC FETCH FIRST 2 ROWS WITH TIES"
    )
    assert changed and "xp >=" in out


def test_with_ties_multi_key_still_refused():
    with pytest.raises(ValueError, match="single ORDER BY key"):
        rewrite_fetch_first(
            "SELECT id, x, s FROM t ORDER BY x, s "
            "FETCH FIRST 2 ROWS WITH TIES"
        )


def test_with_ties_star_except_excluded_key_refused():
    with pytest.raises(ValueError, match="projected columns"):
        rewrite_fetch_first(
            "SELECT * EXCEPT (x) FROM t ORDER BY x "
            "FETCH FIRST 2 ROWS WITH TIES"
        )


# --------------------------------------- runs test degenerate input
def test_runs_test_all_days_equal_median_yields_null(spark, tmp_path):
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.nonparam import (
        runs_test_daily_revenue,
    )

    d = str(tmp_path / "sfdeg")
    import os

    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "o_orderdate": pd.to_datetime(
                ["1995-01-01", "1995-01-02", "1995-01-03"]
            ).date,
            "o_totalprice": [100.0, 100.0, 100.0],
        }
    ).to_parquet(f"{d}/orders.parquet")
    row = runs_test_daily_revenue(spark, d).collect()[0]
    # every day equals the median → kept frame empty → SQL empty-agg
    # NULLs, matching the oracle (ADVICE r13)
    assert row["n_runs"] is None and row["z_ppm"] is None
    assert row["n_above"] is None and row["n_below"] is None


# ------------------------------------------------------- t-closeness
def test_t_closeness_matches_brute_emd(spark, sf_dir):
    """Brute-force ordered EMD in pandas/numpy against the distributed
    prefix-sum plan (the t-closeness definition computed directly)."""
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators.curation import (
        _T_CLOSE_PPM,
        customers_t_closeness,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "customer").toPandas()
    pdf["band"] = np.floor(
        np.round(pdf["c_acctbal"].astype(float) * 100) / 200000.0
    ).astype(int)
    domain = np.sort(pdf["band"].unique())
    m, n = len(domain), len(pdf)
    corpus = pdf["band"].value_counts().reindex(domain, fill_value=0).to_numpy()
    per_seg = {}
    for (seg, _nat), grp in pdf.groupby(["c_mktsegment", "c_nationkey"]):
        gsize = len(grp)
        cnt = grp["band"].value_counts().reindex(domain, fill_value=0).to_numpy()
        # exact integers over the common denominator gsize*n
        diff = cnt.astype(object) * n - corpus.astype(object) * gsize
        s = sum(abs(x) for x in np.cumsum(diff))
        ppm = int((1000000 * s) // (gsize * n * (m - 1))) if m > 1 else 0
        agg = per_seg.setdefault(seg, [0, 0, 0, 0, 0])
        agg[0] += 1
        agg[1] = max(agg[1], ppm)
        if ppm > _T_CLOSE_PPM:
            agg[2] += 1
            agg[3] += gsize
        agg[4] += gsize
    got = {
        r["c_mktsegment"]: (
            r["n_groups"],
            r["max_emd_ppm"],
            r["groups_above_t"],
            r["rows_above_t"],
            r["n_rows"],
        )
        for r in customers_t_closeness(spark, sf_dir).collect()
    }
    assert got == {seg: tuple(v) for seg, v in per_seg.items()}


def test_t_closeness_uniform_subset_scores_zero(spark, tmp_path):
    """A QI group whose band distribution EQUALS the corpus
    distribution must score EMD = 0 exactly."""
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators import curation
    from sample_emr_on_eks_fgac_iceberg_spark.operators.curation import (
        customers_t_closeness,
    )

    # two QI groups with IDENTICAL band histograms (bands 0 and 10):
    # each group's distribution == corpus distribution → EMD 0
    rows = []
    for nat in (0, 1):
        for i in range(4):
            rows.append(("SEG", nat, 0.0 if i < 2 else 20001.0))
    pdf = pd.DataFrame(rows, columns=["c_mktsegment", "c_nationkey", "c_acctbal"])
    out = str(tmp_path / "cust.parquet")
    spark.createDataFrame(pdf).write.parquet(out)
    import os

    spark.read.parquet(out).createOrReplaceTempView("__t_close_probe")
    # route load_table at the operator through a tiny shim dir
    sfd = str(tmp_path)
    os.rename(out, os.path.join(sfd, "customer.parquet"))
    res = customers_t_closeness(spark, sfd).collect()
    assert len(res) == 1
    assert res[0]["max_emd_ppm"] == 0 and res[0]["groups_above_t"] == 0


# ------------------------------------------- shingle DF cap (dedup)
def test_shingle_df_cap_drops_hot_shingles(spark, tmp_path):
    """A binding cap removes non-discriminative shingles from candidate
    generation and the shared count, while set sizes keep counting —
    the capped Jaccard is a lower bound that can only drop pairs."""
    import os

    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    # three docs: a 6-token boilerplate prefix shared by ALL (its
    # trigrams have df=3); docs 1 and 2 additionally share a df=2
    # tail; doc 3's tail is unique
    boiler = "alpha beta gamma delta epsilon zeta"
    tail12 = "one two three four five six seven eight nine ten"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                f"{boiler} {tail12}",
                f"{boiler} {tail12}",
                f"{boiler} moon star cloud rain snow wind fog hail mist dew",
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [1, 1, 1],
        }
    )
    sfd = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(os.path.join(sfd, "documents.parquet"))
    uncapped = {
        (r["a_id"], r["b_id"]): (r["shared"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, sfd).collect()
    }
    # uncapped: 1-2 share boilerplate+tail trigrams; 1-3 and 2-3 share
    # only boilerplate (jaccard below threshold at these sizes)
    assert (1, 2) in uncapped
    spark.conf.set("spark_graft.dedup.shingle_df_cap", "2")
    try:
        capped = {
            (r["a_id"], r["b_id"]): (r["shared"], r["jaccard"])
            for r in dedup_ngram_jaccard(spark, sfd).collect()
        }
    finally:
        spark.conf.unset("spark_graft.dedup.shingle_df_cap")
    # the df=3 boilerplate trigrams are gone from shared counts...
    assert capped[(1, 2)][0] < uncapped[(1, 2)][0]
    # ...but the denominator still counts them: score strictly drops
    assert capped[(1, 2)][1] < uncapped[(1, 2)][1]
    # capped pair set is a subset (a cap can only drop pairs)
    assert set(capped) <= set(uncapped)


def test_shingle_df_cap_default_not_binding(spark, sf_dir):
    """At driver SFs the default cap must be a no-op: identical pair
    set with the cap forced effectively infinite."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    default = sorted(
        map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect())
    )
    spark.conf.set("spark_graft.dedup.shingle_df_cap", str(1 << 40))
    try:
        unbounded = sorted(
            map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect())
        )
    finally:
        spark.conf.unset("spark_graft.dedup.shingle_df_cap")
    assert default == unbounded


# -------------------------------------------------- log-rank (survival)
def test_logrank_matches_brute_mantel_cox(spark, sf_dir):
    """Brute Mantel-Cox in pandas: per distinct lifetime, O-E and the
    hypergeometric variance, summed — against the distributed plan."""
    import numpy as np
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.nonparam import (
        customer_churn_logrank_segment,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").toPandas()
    c = load_table(spark, sf_dir, "customer").toPandas()
    o["o_orderdate"] = pd.to_datetime(o["o_orderdate"])
    md = o["o_orderdate"].max()
    g = o.groupby("o_custkey")["o_orderdate"].agg(["min", "max"]).reset_index()
    g = g.merge(
        c[["c_custkey", "c_mktsegment"]],
        left_on="o_custkey",
        right_on="c_custkey",
    )
    g["lifetime"] = (g["max"] - g["min"]).dt.days
    g["event"] = (g["max"] <= md - pd.Timedelta(days=90)).astype(int)
    g["grp"] = (g["c_mktsegment"] == "BUILDING").astype(int)
    times = np.sort(g["lifetime"].unique())
    o1 = int(g.loc[g["grp"] == 1, "event"].sum())
    e1 = v = 0.0
    for t in times:
        at = g[g["lifetime"] >= t]
        ev = g[g["lifetime"] == t]
        n1, nt = int((at["grp"] == 1).sum()), len(at)
        d1, dt = int(ev.loc[ev["grp"] == 1, "event"].sum()), int(
            ev["event"].sum()
        )
        if nt == 0:
            continue
        e1 += dt * n1 / nt
        if nt > 1:
            v += dt * (n1 / nt) * ((nt - n1) / nt) * ((nt - dt) / (nt - 1))
    row = customer_churn_logrank_segment(spark, sf_dir).collect()[0]
    assert row["observed_building"] == o1
    assert abs(row["expected_micro"] - round(e1 * 1e6)) <= 2
    assert abs(row["variance_micro"] - round(v * 1e6)) <= 2
    chi2 = (o1 - e1) ** 2 / v
    assert abs(row["chi2_ppm"] - round(chi2 * 1e6)) <= 10


# --------------------------------------------- round-14 operator wave
def test_friedman_matches_brute_ranks(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.nonparam import (
        friedman_priority_by_year,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").toPandas()
    o["yr"] = pd.to_datetime(o["o_orderdate"]).dt.year
    o["cents"] = np.round(o["o_totalprice"].astype(float) * 100).astype(int)
    obs = o.groupby(["yr", "o_orderpriority"])["cents"].sum().reset_index()
    k = obs["o_orderpriority"].nunique()
    complete = obs.groupby("yr").size()
    obs = obs[obs["yr"].isin(complete[complete == k].index)]
    obs["r"] = obs.groupby("yr")["cents"].rank(method="average")
    n = obs["yr"].nunique()
    r2 = (2 * obs.groupby("o_orderpriority")["r"].sum()).astype(int)
    s2 = int(((r2 - n * (k + 1)) ** 2).sum())
    q2 = int((4 * obs["r"] ** 2).sum())
    d2 = q2 - n * k * (k + 1) ** 2
    q_ppm = (k - 1) * 1000000 * s2 // d2
    got = {
        r["o_orderpriority"]: (r["rank_sum_doubled"], r["n_blocks"], r["q_ppm"])
        for r in friedman_priority_by_year(spark, sf_dir).collect()
    }
    assert got == {p: (int(r2[p]), n, q_ppm) for p in r2.index}


def test_fuzzy_name_pairs_match_brute_levenshtein(spark):
    """Brute all-pairs Levenshtein over the sf0.001 customers equals
    the symmetric-delete blocked join (completeness: blocking must not
    lose any distance-1 pair)."""
    import itertools

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        fuzzy_name_edit_pairs,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "customer")
        .select("c_custkey", "c_name")
        .collect()
    )
    names = {r.c_custkey: r.c_name for r in rows}
    per_pos = {}
    for a, b in itertools.combinations(sorted(names), 2):
        pos = _brute_lev1_pos(names[a], names[b])
        if pos is not None:
            cnt, mn = per_pos.get(pos, (0, a))
            per_pos[pos] = (cnt + 1, min(mn, a))
    got = {
        r["pos"]: (r["n_pairs"], r["min_a_key"])
        for r in fuzzy_name_edit_pairs(spark, sf).collect()
    }
    assert got == per_pos


def _brute_lev1_pos(na, nb):
    """1-based census position if levenshtein(na, nb) == 1 else None:
    the differing position for a substitution, the SMALLEST deleted
    position in the longer name for an insert/delete (the operator's
    dedupe rule)."""
    if len(na) == len(nb):
        diff = [i for i, (x, y) in enumerate(zip(na, nb)) if x != y]
        return diff[0] + 1 if len(diff) == 1 else None
    if abs(len(na) - len(nb)) != 1:
        return None
    lo, sh = (na, nb) if len(na) > len(nb) else (nb, na)
    for i in range(len(lo)):
        if lo[:i] + lo[i + 1:] == sh:
            return i + 1
    return None


def test_fuzzy_name_pairs_insert_delete_path(spark, tmp_path):
    """The cross-length lev-1 shape the TPC-H corpus (all-equal-length
    names) cannot exercise: deletion pairs are found, deduped to the
    smallest deleted position, and compose with substitution pairs in
    one census."""
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        fuzzy_name_edit_pairs,
    )

    d = str(tmp_path)
    pd.DataFrame(
        {
            "c_custkey": [1, 2, 3, 5, 6],
            "c_name": ["abc", "ab", "aab", "xbc", "zzzz"],
        }
    ).to_parquet(f"{d}/customer.parquet")
    got = {
        r["pos"]: (r["n_pairs"], r["min_a_key"])
        for r in fuzzy_name_edit_pairs(spark, d).collect()
    }
    # pos 1: (2,3) 'aab'→'ab' deletes pos 1 OR 2 — counted ONCE at 1 —
    #        plus the substitution pair (1,5) 'abc'/'xbc'
    # pos 3: (1,2) 'abc'→'ab' deletes only pos 3
    assert got == {1: (2, 1), 3: (1, 1)}


def test_fuzzy_name_pairs_identical_names_excluded(spark, tmp_path):
    """Two distinct keys with the SAME name are lev-0, not lev-1: the
    blocking join emits them as candidates at every position, and the
    verify must drop them all (pins the r14 name-inequality verify —
    equivalent to levenshtein==1 on the equal-length candidate set —
    against the one input shape where the two predicates could ever be
    confused)."""
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        fuzzy_name_edit_pairs,
    )

    d = str(tmp_path)
    pd.DataFrame(
        {
            "c_custkey": [1, 2, 3],
            "c_name": ["abc", "abc", "abd"],
        }
    ).to_parquet(f"{d}/customer.parquet")
    got = {
        r["pos"]: (r["n_pairs"], r["min_a_key"])
        for r in fuzzy_name_edit_pairs(spark, d).collect()
    }
    # the (1,2) identical pair must vanish; (1,3) and (2,3) differ at
    # pos 3 only
    assert got == {3: (2, 1)}


def test_vocab_richness_matches_brute_counter(spark, sf_dir):
    import collections
    import re

    from sample_emr_on_eks_fgac_iceberg_spark.operators.text import (
        text_vocab_richness,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    by_lang = {}
    for r in d:
        c = by_lang.setdefault(r.lang, collections.Counter())
        c.update(w for w in re.split(r"\s+", r.text.strip().lower()) if w)
    for row in text_vocab_richness(spark, sf_dir).collect():
        c = by_lang[row["lang"]]
        ntok, v = sum(c.values()), len(c)
        f1 = sum(1 for x in c.values() if x == 1)
        f2 = sum(1 for x in c.values() if x == 2)
        chao1 = 1000 * v + (
            (1000 * f1 * f1) // (2 * f2) if f2 else (1000 * f1 * (f1 - 1)) // 2
        )
        assert (row["n_tokens"], row["vocab"], row["f1"], row["f2"]) == (
            ntok, v, f1, f2,
        )
        assert row["chao1_milli"] == chao1
        assert row["gt_coverage_ppm"] == 1000000 - (f1 * 1000000) // ntok


def test_mi_matches_brute_numpy(spark, sf_dir):
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators.relational import (
        customers_segment_nation_mi,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "customer").toPandas()
    joint = pdf.groupby(["c_nationkey", "c_mktsegment"]).size()
    n = len(pdf)
    p = joint / n
    px = pdf.groupby("c_nationkey").size() / n
    py = pdf.groupby("c_mktsegment").size() / n
    mi = sum(
        pv * np.log(pv / (px[x] * py[y])) for (x, y), pv in p.items()
    )
    row = customers_segment_nation_mi(spark, sf_dir).collect()[0]
    assert row["n_customers"] == n
    assert abs(row["mi_ppm"] - round(mi * 1e6)) <= 2
    # identity: MI = H(X) + H(Y) - H(XY) on the emitted ppm values
    assert (
        abs(
            row["h_nation_ppm"] + row["h_segment_ppm"] - row["h_joint_ppm"]
            - row["mi_ppm"]
        )
        <= 2
    )


def test_residuals_match_brute_scipy_free(spark, sf_dir):
    """Brute standardized/adjusted residuals + Cramér's V in numpy."""
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators.relational import (
        part_brand_type_residuals,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "part").toPandas()
    counts = pdf.groupby(["p_brand", "p_type"]).size()
    tab = counts.unstack(fill_value=0)
    n = tab.values.sum()
    e = np.outer(tab.sum(1), tab.sum(0)) / n
    observed = tab.values > 0  # the documented observed-cell semantic
    # (shared with part_brand_type_chi2: zero cells never enter)
    chi2 = ((tab.values - e) ** 2 / e)[observed].sum()
    v = np.sqrt(chi2 / (n * (min(tab.shape) - 1)))
    adj = np.outer(1 - tab.sum(1) / n, 1 - tab.sum(0) / n)
    adj_resid = np.where(
        observed, (tab.values - e) / np.sqrt(e * adj), 0.0
    )
    rows = part_brand_type_residuals(spark, sf_dir).collect()
    assert len(rows) == 10
    # global Cramér's V repeated on every row
    assert all(abs(r["cramers_v_ppm"] - round(v * 1e6)) <= 2 for r in rows)
    # the top row is the max |adjusted residual| among observed cells
    top = rows[0]
    i = list(tab.index).index(top["p_brand"])
    j = list(tab.columns).index(top["p_type"])
    assert abs(np.abs(adj_resid).max() - abs(adj_resid[i, j])) < 1e-9
    assert abs(top["adj_resid_milli"] - round(adj_resid[i, j] * 1e3)) <= 2


def test_stump_split_matches_brute_gini(spark, sf_dir):
    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators.relational import (
        _STUMP_WIDTH,
        orders_value_stump_split,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "orders").toPandas()
    cents = np.round(pdf["o_totalprice"].astype(float) * 100).astype(np.int64)
    y = (pdf["o_orderstatus"] == "F").to_numpy().astype(int)
    bucket = cents // _STUMP_WIDTH
    got = {
        r["threshold_cents"]: (r["n_left"], r["pos_left"], r["weighted_gini_ppm"])
        for r in orders_value_stump_split(spark, sf_dir).collect()
    }
    n, p_tot = len(y), int(y.sum())
    for t in sorted(set(bucket)):
        if t == bucket.max():
            continue
        left = bucket <= t
        nl, pl = int(left.sum()), int(y[left].sum())
        nr, pr = n - nl, p_tot - pl
        g = lambda p, m: 2 * (p / m) * (1 - p / m)
        w = (nl * g(pl, nl) + nr * g(pr, nr)) / n
        thr = (t + 1) * _STUMP_WIDTH
        assert got[thr][:2] == (nl, pl)
        assert abs(got[thr][2] - round(w * 1e6)) <= 1
    # the scan covers every non-terminal grid boundary
    assert len(got) == len(set(bucket)) - 1


def test_cmh_matches_brute_stratified(spark, sf_dir):
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.nonparam import (
        lineitem_cmh_discount_returns,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").toPandas()
    li["yr"] = pd.to_datetime(li["l_shipdate"]).dt.year
    li["x"] = li["l_returnflag"] == "R"
    li["y"] = li["l_discount"].astype(float) >= 0.05
    sum_a = e = v = r = s_ = 0.0
    for _, g in li.groupby("yr"):
        a = int((g["x"] & g["y"]).sum())
        b = int((g["x"] & ~g["y"]).sum())
        c = int((~g["x"] & g["y"]).sum())
        d = int((~g["x"] & ~g["y"]).sum())
        n = a + b + c + d
        sum_a += a
        e += (a + b) * (a + c) / n
        if n > 1:
            v += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
        r += a * d / n
        s_ += b * c / n
    row = lineitem_cmh_discount_returns(spark, sf_dir).collect()[0]
    assert row["sum_a"] == int(sum_a)
    assert abs(row["expected_micro"] - round(e * 1e6)) <= 2
    assert abs(row["variance_micro"] - round(v * 1e6)) <= 2
    assert abs(row["cmh_ppm"] - round((sum_a - e) ** 2 / v * 1e6)) <= 10
    assert abs(row["or_mh_milli"] - round(r / s_ * 1e3)) <= 1


def test_vote_quality_matches_brute_confusion(spark, sf_dir):
    from sample_emr_on_eks_fgac_iceberg_spark.operators.similarity import (
        knn_label_vote,
        knn_vote_quality,
    )

    pred = [
        (r["true_label"], r["predicted_label"])
        for r in knn_label_vote(spark, sf_dir).collect()
    ]
    labels = {t for t, _ in pred} | {p for _, p in pred}
    got = {
        r["label"]: (
            r["n_true"], r["n_pred"], r["tp"],
            r["precision_ppm"], r["recall_ppm"], r["f1_ppm"],
        )
        for r in knn_vote_quality(spark, sf_dir).collect()
    }
    assert set(got) == labels
    for lbl in labels:
        n_true = sum(1 for t, _ in pred if t == lbl)
        n_pred = sum(1 for _, p in pred if p == lbl)
        tp = sum(1 for t, p in pred if t == lbl and p == lbl)
        prec = tp * 1000000 // n_pred if n_pred else 0
        rec = tp * 1000000 // n_true if n_true else 0
        f1 = 2 * tp * 1000000 // (n_true + n_pred) if n_true + n_pred else 0
        assert got[lbl] == (n_true, n_pred, tp, prec, rec, f1)


def test_knn_vote_auc_matches_brute(spark, sf_dir):
    """Tie-corrected one-vs-rest AUC vs the O(n²) pair count."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.similarity import (
        _eval_vote_grid,
        knn_vote_auc,
    )

    grid = _eval_vote_grid(spark, sf_dir).toPandas()
    got = {
        r["label"]: r
        for r in (row.asDict() for row in knn_vote_auc(spark, sf_dir).collect())
    }
    assert set(got) == set(grid["label"].unique())
    for lbl, g in grid.groupby("label"):
        pos = g[g["true_label"] == lbl]["votes"].to_numpy()
        neg = g[g["true_label"] != lbl]["votes"].to_numpy()
        r = got[lbl]
        assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
        if len(pos) == 0 or len(neg) == 0:
            assert r["auc_ppm"] is None
            continue
        wins = sum(int((p > neg).sum()) for p in pos)
        ties = sum(int((p == neg).sum()) for p in pos)
        num2 = 2 * wins + ties
        assert r["auc_ppm"] == num2 * 1000000 // (2 * len(pos) * len(neg))


def test_knn_vote_calibration_matches_brute(spark, sf_dir):
    """Reliability bins and Brier mass vs a pandas recomputation; the
    per-label bin masses must cover the whole eval split."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.similarity import (
        EVAL_N,
        TOP_K,
        _eval_vote_grid,
        knn_vote_calibration,
    )

    grid = _eval_vote_grid(spark, sf_dir).toPandas()
    rows = [r.asDict() for r in knn_vote_calibration(spark, sf_dir).collect()]
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    assert set(by_label) == set(grid["label"].unique())
    for lbl, rs in by_label.items():
        assert sum(r["n"] for r in rs) == EVAL_N
        g = grid[grid["label"] == lbl]
        for r in rs:
            b = g[g["votes"] == r["votes_bin"]]
            y = (b["true_label"] == lbl).astype(int)
            assert r["n"] == len(b)
            assert r["n_pos"] == int(y.sum())
            assert r["pred_ppm"] == r["votes_bin"] * 1000000 // TOP_K
            assert r["obs_ppm"] == r["n_pos"] * 1000000 // r["n"]
            assert r["sq_err"] == int(
                ((b["votes"] - TOP_K * y) ** 2).sum()
            )


def test_nation_return_fdr_matches_brute(spark, sf_dir):
    """z and erfc p-values vs math.erfc; the BH step-up vs a direct
    numpy implementation over the op's own ppm p-values."""
    import math

    import numpy as np

    from sample_emr_on_eks_fgac_iceberg_spark.operators.nonparam import (
        nation_return_fdr,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    c = load_table(spark, sf_dir, "customer").toPandas()
    n = load_table(spark, sf_dir, "nation").toPandas()
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(n, left_on="c_nationkey", right_on="n_nationkey")
    )
    per = j.groupby("n_name").agg(
        n_items=("l_returnflag", "size"),
        n_returned=("l_returnflag", lambda s: int((s == "R").sum())),
    )
    n_tot, x_tot = int(per["n_items"].sum()), int(per["n_returned"].sum())
    rows = sorted(
        (r.asDict() for r in nation_return_fdr(spark, sf_dir).collect()),
        key=lambda r: r["nation"],
    )
    assert len(rows) == len(per)
    m = len(rows)
    for r in rows:
        b = per.loc[r["nation"]]
        assert r["n_items"] == b["n_items"]
        assert r["n_returned"] == b["n_returned"]
        p1 = b["n_returned"] / b["n_items"]
        p2 = (x_tot - b["n_returned"]) / (n_tot - b["n_items"])
        pp = x_tot / n_tot
        z = (p1 - p2) / math.sqrt(
            pp * (1 - pp) * (1 / b["n_items"] + 1 / (n_tot - b["n_items"]))
        )
        assert abs(r["z_micro"] - round(z * 1e6)) <= 1
        # A&S 7.1.26 is a 1.5e-7-accurate approximation of erfc — allow
        # that approximation error on top of ppm rounding.
        p_true = math.erfc(abs(z) / math.sqrt(2))
        assert abs(r["p_ppm"] - round(p_true * 1e6)) <= 2
    # BH step-up recomputed from the op's own ppm p-values
    p_ppm = np.array([r["p_ppm"] for r in rows])
    names = np.array([r["nation"] for r in rows])
    order = np.lexsort((names, p_ppm))
    rank = np.empty(m, dtype=int)
    rank[order] = np.arange(1, m + 1)
    raw = np.minimum(1000000, p_ppm * m // rank)
    adj = np.empty(m, dtype=int)
    for i in range(m):
        adj[i] = raw[rank >= rank[i]].min()
    for i, r in enumerate(rows):
        assert r["p_rank"] == rank[i]
        assert r["bh_adj_ppm"] == adj[i]
        assert r["significant_q05"] == (adj[i] <= 50000)
        assert r["bh_adj_ppm"] >= r["p_ppm"] * m // m  # adj ≥ p/1 scaling


def test_nation_return_fdr_total_on_degenerate_corpus(spark, tmp_path):
    """A corpus with ZERO returns makes every per-nation test
    degenerate: the output must still hold one row per nation, with
    NULL z/p/rank/adjusted/significance (not drop the rows)."""
    import pandas as pd

    from sample_emr_on_eks_fgac_iceberg_spark.operators.nonparam import (
        nation_return_fdr,
    )

    d = str(tmp_path)
    pd.DataFrame(
        {"n_nationkey": [0, 1], "n_name": ["ALPHA", "BETA"]}
    ).to_parquet(f"{d}/nation.parquet")
    pd.DataFrame(
        {"c_custkey": [1, 2], "c_nationkey": [0, 1]}
    ).to_parquet(f"{d}/customer.parquet")
    pd.DataFrame(
        {"o_orderkey": [10, 11, 12], "o_custkey": [1, 1, 2]}
    ).to_parquet(f"{d}/orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [10, 10, 11, 12, 12],
            "l_returnflag": ["N", "N", "A", "N", "A"],
        }
    ).to_parquet(f"{d}/lineitem.parquet")
    rows = {
        r["nation"]: r.asDict()
        for r in nation_return_fdr(spark, d).collect()
    }
    assert set(rows) == {"ALPHA", "BETA"}
    for r in rows.values():
        assert r["n_items"] > 0
        for col in (
            "z_micro",
            "p_ppm",
            "p_rank",
            "bh_adj_ppm",
            "significant_q05",
        ):
            assert r[col] is None, (r["nation"], col, r[col])


def test_with_ties_qualified_key_alias_collision_refused(fe14):
    """`SELECT x AS id … ORDER BY o.id`: dropping the qualifier would
    silently bind the tie threshold to alias id (= column x), a
    different top-n row set — must refuse loudly."""
    with pytest.raises(ValueError, match="collides with the select-list"):
        fe14.execute(
            "SELECT x AS id FROM t o ORDER BY o.id "
            "FETCH FIRST 2 ROWS WITH TIES"
        )


def test_with_ties_operator_expression_not_misparsed_as_alias(fe14):
    """'x - y' must not parse as expression 'x -' aliased y; the
    unprojected key y gets the explanatory refusal, not a confusing
    downstream unresolved-column failure."""
    with pytest.raises(ValueError, match="projected columns"):
        fe14.execute(
            "SELECT id, x - y FROM t ORDER BY y "
            "FETCH FIRST 2 ROWS WITH TIES"
        )


def test_with_ties_implicit_alias_still_works(fe14):
    """The tightened fallback still admits a genuine implicit alias."""
    rows = fe14.execute(
        "SELECT id, x + 1 total FROM t ORDER BY total "
        "FETCH FIRST 2 ROWS WITH TIES"
    ).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3]


def test_with_ties_qualified_key_same_expression_alias_ok(fe14):
    """`SELECT o.x AS x … ORDER BY o.x` aliases the SAME expression —
    no collision, the rewrite binds to the alias."""
    rows = fe14.execute(
        "SELECT id, o.x AS x FROM t o ORDER BY o.x "
        "FETCH FIRST 2 ROWS WITH TIES"
    ).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3]
