"""Driver-memory guards: no registered query path may pull a data-sized
frame onto the driver. VERDICT r01 flagged `toPandas()` in
similarity_pairs_threshold / dedup_embedding_cosine as a 100 TB
driver-OOM; these static checks keep the pattern from coming back."""

import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "sample_emr_on_eks_fgac_iceberg_spark"

# Every `.collect()` in package source must be PER-SITE justified with
# an inline `# scale-ok: <why bounded>` marker on the same line
# (VERDICT r10 #3: the old file-granular allowlist let a future
# unbounded collect anywhere in an allowlisted file pass unreviewed).
# Legit sites are all scalar/metadata-sized: 1-row commit-planning and
# convergence aggregates, N_QUERIES(=10) query vectors, per-partition
# count scalars, D²-bounded covariance cells, the explain helper.
_MARKER = "# scale-ok:"


def _package_sources():
    for py in sorted(PKG.rglob("*.py")):
        yield py.relative_to(PKG).as_posix(), py.read_text()


def test_no_topandas_in_package_source():
    offenders = [
        f"{rel}:{i}"
        for rel, src in _package_sources()
        for i, line in enumerate(src.splitlines(), 1)
        if ".toPandas(" in line
    ]
    assert not offenders, f"driver-side toPandas() in query paths: {offenders}"


def test_collect_sites_carry_scale_ok_markers():
    offenders = [
        f"{rel}:{i}"
        for rel, src in _package_sources()
        for i, line in enumerate(src.splitlines(), 1)
        if ".collect()" in line and _MARKER not in line
    ]
    assert not offenders, (
        "driver-side collect() without a per-site '# scale-ok:' "
        f"justification: {offenders}"
    )


def test_scale_ok_markers_only_on_collect_lines():
    """The marker must not decay into file-level noise: every scale-ok
    annotation sits ON a collect site and carries a reason."""
    for rel, src in _package_sources():
        for i, line in enumerate(src.splitlines(), 1):
            if _MARKER in line:
                assert ".collect()" in line, f"stray marker {rel}:{i}"
                reason = line.split(_MARKER, 1)[1].strip()
                assert len(reason) >= 8, f"empty scale-ok reason {rel}:{i}"


def test_connected_components_converges_on_long_chain(spark):
    """Adversarial graph shape for label propagation: a 200-node path
    has diameter 199 — plain neighbor-min needs ~200 rounds, far past
    _CC_MAX_ROUNDS. Pointer jumping (path halving) must close it within
    the round budget, labeling every node with the chain's minimum."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        connected_components,
    )

    n = 200
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    labels = connected_components(edges, nodes).collect()
    assert len(labels) == n
    assert {r.comp for r in labels} == {0}, "chain must collapse to component 0"


def test_connected_components_two_components_and_singleton(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (5, 6)], "a_id long, b_id long"
    )
    got = {(r.id, r.comp) for r in connected_components(edges, nodes).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4), (6, 4)}


def _uf_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label normalize
    comp = {}
    for i in range(n):
        r = find(i)
        comp.setdefault(r, []).append(i)
    return {i: min(members) for r, members in comp.items() for i in members}


def test_connected_components_matches_union_find_random_graphs(spark):
    """Property: on random graphs, the distributed hash-to-min labels
    must equal a reference union-find's min-label components. Seeded
    (not hypothesis-driven) because each case spins Spark jobs."""
    import random

    from sample_emr_on_eks_fgac_iceberg_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    for trial in range(5):
        n = rng.randint(5, 60)
        m = rng.randint(0, n * 2)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        expected = _uf_components(n, edges)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edf = spark.createDataFrame(
            edges or [(0, 0)], "a_id long, b_id long"
        )
        if not edges:
            edf = edf.filter("a_id != a_id")  # empty edge set
        got = {r.id: r.comp for r in connected_components(edf, nodes).collect()}
        assert got == expected, f"trial {trial}: n={n} edges={edges}"


def test_hash_sampling_invariant_under_partitioning(spark, sf_dir):
    """The determinism contract at cluster scale: md5-keyed sampling
    decisions must be identical whatever the physical partitioning —
    the same rows are kept on 1 partition or 32 (and hence on any
    cluster size, any retry layout)."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES
    from sample_emr_on_eks_fgac_iceberg_spark.operators import curation

    for name in ("sample_hash_fraction", "split_train_holdout", "pack_sequences"):
        base = {tuple(r) for r in QUERIES[name](spark, sf_dir).collect()}
        # patch the OPERATOR module's binding (it imported fan_out by
        # name) — a module-level patch on sources.tables would be a
        # no-op and make this test vacuous
        orig_fan_out = curation.fan_out
        curation.fan_out = lambda df, spark, *cols: df.coalesce(1)
        try:
            skewed = {tuple(r) for r in QUERIES[name](spark, sf_dir).collect()}
        finally:
            curation.fan_out = orig_fan_out
        assert base == skewed, f"{name}: result depends on partitioning"
