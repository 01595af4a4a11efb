"""Deduplication operators over `documents` (north-star surface,
SURVEY.md §2.B "Dedup"): exact (hash-groupBy), n-gram Jaccard
(shingle-bucketed candidate join), MinHash-LSH, and SimHash.

100 TB posture:
- exact dedup is one shuffle on the content hash (map-side partial agg
  applies to the count);
- Jaccard candidates come only from docs sharing a word-trigram
  shingle — the candidate join shuffles on the shingle, never forming
  the all-pairs cross product;
- MinHash-LSH and SimHash band-joins are the sub-linear scale path for
  when even shingle buckets are too hot: pairs form only within
  LSH bands / 16-bit SimHash chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window
from pyspark.sql import functions as F

from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import register
from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import fan_out, load_table, materialize_once

SHINGLE_N = 3  # word trigrams
JACCARD_THRESHOLD = 0.2


def _norm_text(col):
    """Shared normalization: lowercase, trim, collapse whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


# Document-frequency bound for candidate shingles (override via
# spark_graft.dedup.shingle_df_cap): shingles in more docs than this
# are dropped from pair generation — see dedup_ngram_jaccard's
# hot-shingle note. Chosen to never bind at driver/bench SFs.
_SHINGLE_DF_CAP = 4096


def _shingles(tokens_col: str):
    """Distinct word trigrams from a token-array column (guarded by the
    caller for size >= SHINGLE_N)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(0, size({tokens_col}) - {SHINGLE_N}), "
            f"i -> concat_ws(' ', {tokens_col}[i], {tokens_col}[i+1], {tokens_col}[i+2]))"
        )
    )


@register(
    "dedup_exact",
    oracle=r"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash normalized text, keep the lowest doc_id as
    canonical. One shuffle on the hash; survivors = one row per hash."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return (
        d.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )



# The Jaccard shingle pipeline as shared oracle CTE text: ONE copy used
# by dedup_ngram_jaccard's oracle and (with the `edges` projection
# appended) by the connected-components / savings oracles, so the edge
# definition can never drift between them.
_JACCARD_COMMON_CTE = rf"""
    toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(t) - {SHINGLE_N - 1}),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= {SHINGLE_N}),
    exploded AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    pair_shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
        FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH {_JACCARD_COMMON_CTE}
    SELECT p.a_id, p.b_id, p.shared,
           CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared) AS jaccard
    FROM pair_shared p
      JOIN sizes sa ON sa.doc_id = p.a_id
      JOIN sizes sb ON sb.doc_id = p.b_id
    WHERE CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-trigram Jaccard. Candidates are generated
    by the shingle equi-join (shuffle on shingle), so only docs sharing
    at least one trigram are ever compared — the all-pairs product is
    never materialized. Exact integer shared/size counts make the
    score deterministic.

    The shingle set size rides along through the explode, so the
    Jaccard denominator comes straight out of the pair aggregate — no
    join back against a sizes table (two joins fewer, and the shingle
    pipeline is evaluated once per side instead of twice).

    The candidate join keys on xxhash64(shingle), not the trigram
    string: the shuffled/joined key is 8 bytes instead of ~25-byte
    strings (measured ~40% faster at sf0.1, and proportionally less
    shuffle I/O at scale). A 64-bit collision would need two distinct
    trigrams in the same corpus hashing equal (~n²/2⁶⁵) before it
    could perturb a single pair's shared-count by one.

    Hot-shingle bound (the r14 sf1 scale probe, SCALE.md): a shingle
    present in f docs generates f(f−1)/2 candidate pairs, so the pair
    count grows QUADRATICALLY wherever document frequency grows with
    the corpus (boilerplate phrases; a fixed-vocabulary corpus like
    the synthetic testdata). ``spark_graft.dedup.shingle_df_cap``
    (default {_SHINGLE_DF_CAP}) drops shingles above that document
    frequency from candidate generation AND the shared count: a
    shingle in >cap docs is non-discriminative for near-dup anyway,
    and with the cap total candidate pairs are ≤ cap/2 · Σf — LINEAR
    in corpus size. Set sizes (the Jaccard denominator) keep counting
    every shingle, so the capped score is a LOWER bound of the exact
    one — a binding cap can only drop pairs, never invent them. The
    default never binds below ~160× the bench SF (max df is 25 at
    sf0.1 and grows ∝ corpus), so driver/oracle results are unchanged
    at every tested SF; the heavy-hitter frame is ≤ Σf/cap rows —
    broadcast by construction."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
    exploded = (
        toks.filter(F.size("t") >= SHINGLE_N)
        .select("doc_id", _shingles("t").alias("shingles"))
        .select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.explode("shingles").alias("s"),
        )
        .select("doc_id", "n", F.xxhash64("s").alias("h"))
    )
    # barrier: build the shingle index once at full parallelism; both
    # join sides read it (see sources.tables.materialize_once)
    exploded = materialize_once(exploded)
    cap = int(
        spark.conf.get("spark_graft.dedup.shingle_df_cap", str(_SHINGLE_DF_CAP))
    )
    # heavy hitters: shingles in more than `cap` docs (shingles are
    # per-doc distinct, so COUNT(*) per hash IS document frequency);
    # ≤ total-instances/cap rows by construction — broadcastable
    hot = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("h")
    )
    kept = exploded.join(F.broadcast(hot), "h", "left_anti")
    a = kept.alias("a")
    b = kept.alias("b")
    pair_shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("a.n").alias("n_a"),
            F.min("b.n").alias("n_b"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return pair_shared.select(
        "a_id", "b_id", "shared", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


CONTAINMENT_THRESHOLD = 0.5


@register(
    "dedup_containment",
    oracle=rf"""
    WITH {_JACCARD_COMMON_CTE}
    SELECT p.a_id, p.b_id, p.shared,
           CAST(p.shared AS DOUBLE) / sa.n AS containment_a,
           CAST(p.shared AS DOUBLE) / sb.n AS containment_b
    FROM pair_shared p
      JOIN sizes sa ON sa.doc_id = p.a_id
      JOIN sizes sb ON sb.doc_id = p.b_id
    WHERE CAST(p.shared AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
       OR CAST(p.shared AS DOUBLE) / sb.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-dup pairs by shingle containment |A∩B| / |A| —
    the subset-duplication screen Jaccard misses: a short document
    quoted wholesale inside a long one has containment ≈ 1.0 while its
    Jaccard stays below any dedup threshold (the union is dominated by
    the long side). Standard corpus-dedup companion to
    `dedup_ngram_jaccard`; a pair survives when EITHER direction
    crosses {CONTAINMENT_THRESHOLD}.

    Plan is the Jaccard pipeline verbatim (same shingle index, same
    xxhash64 8-byte candidate join, per-side set sizes riding through
    the explode so no sizes-table join) — only the final scoring
    expression differs, so the 100 TB posture argument carries over
    unchanged: candidates only ever come from the shingle equi-join,
    never an all-pairs product."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
    exploded = (
        toks.filter(F.size("t") >= SHINGLE_N)
        .select("doc_id", _shingles("t").alias("shingles"))
        .select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.explode("shingles").alias("s"),
        )
        .select("doc_id", "n", F.xxhash64("s").alias("h"))
    )
    exploded = materialize_once(exploded)
    a = exploded.alias("a")
    b = exploded.alias("b")
    pair_shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("a.n").alias("n_a"),
            F.min("b.n").alias("n_b"),
        )
    )
    c_a = F.col("shared").cast("double") / F.col("n_a")
    c_b = F.col("shared").cast("double") / F.col("n_b")
    return pair_shared.select(
        "a_id",
        "b_id",
        "shared",
        c_a.alias("containment_a"),
        c_b.alias("containment_b"),
    ).filter(
        (F.col("containment_a") >= CONTAINMENT_THRESHOLD)
        | (F.col("containment_b") >= CONTAINMENT_THRESHOLD)
    )


@register("dedup_minhash_lsh")  # engine-specific hash family → rows-only check
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (pyspark.ml): shingle → HashingTF
    → MinHashLSH.approxSimilarityJoin. The banded LSH join is the
    sub-linear scale path; recall is tunable via numHashTables. Output:
    candidate pairs with estimated Jaccard distance < 0.8."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
    sh = (
        toks.filter(F.size("t") >= SHINGLE_N)
        .select("doc_id", _shingles("t").alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.8, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
            F.col("jaccard_dist").alias("jaccard_dist"),
        )
    )


@register("dedup_simhash")  # xxhash64 family is Spark-specific → rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup candidates. Per doc: hash each distinct
    token with xxhash64, accumulate +1/-1 per bit, sign → fingerprint.
    Candidate pairs share at least one of four 16-bit bands (the
    classic SimHash index join — never all-pairs); survivors have
    Hamming distance <= 8."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    simhash = F.lit(0).cast("long")
    for i in range(63):  # keep bit 63 clear so the fingerprint stays non-negative
        simhash = simhash + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
    fp = bit_sums.select("doc_id", simhash.alias("simhash"))
    fp = materialize_once(fp)  # simhash computed once; both band sides reuse
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{band}:"),
                        F.shiftright("simhash", band * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for band in range(4)
                ]
            )
        ).alias("band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("a_id", "b_id", hamming.alias("hamming")).filter(
        F.col("hamming") <= 8
    )


# the synthetic embeddings are near-orthogonal (max pairwise cosine
# ~0.51 at sf0.01), so the near-dup bar sits in the distribution's
# upper tail rather than at a real-corpus 0.9-ish level
EMB_DUP_THRESHOLD = 0.4


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH docvec AS (
        SELECT d.doc_id,
               list_transform(e.embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
    norms AS (
        SELECT doc_id, v,
               sqrt(CAST(list_sum(list_transform(range(len(v)),
                   i -> v[i+1]*v[i+1])) AS DOUBLE)) AS nrm
        FROM docvec)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(list_sum(list_transform(range(len(a.v)),
               i -> a.v[i+1]*b.v[i+1])) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
    FROM norms a JOIN norms b ON a.doc_id < b.doc_id
    WHERE CAST(list_sum(list_transform(range(len(a.v)),
              i -> a.v[i+1]*b.v[i+1])) AS DOUBLE) / (a.nrm * b.nrm)
          >= {EMB_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over `documents`: doc pairs whose
    embeddings (joined from the embeddings table on doc_id) have
    cosine >= τ — semantic dedup, catching rewrites that n-gram
    Jaccard misses. Runs on the distributed block-GEMM
    (operators/similarity.py::blocked_allpairs_cosine): nothing
    data-sized on the driver, exact quantized-integer math bit-equal
    to the oracle; LSH bucketing stays the sub-quadratic path."""
    from pyspark.sql import functions as _F

    from sample_emr_on_eks_fgac_iceberg_spark.operators.similarity import (
        blocked_allpairs_cosine,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e = load_table(spark, sf_dir, "embeddings")
    quant = fan_out(e, spark, "vec_id").join(d, e.vec_id == d.doc_id).select(
        _F.col("doc_id").alias("pid"),
        _F.transform(
            "embedding", lambda x: _F.round(x.cast("double") * 1000).cast("long")
        ).alias("v"),
    )
    return blocked_allpairs_cosine(quant, EMB_DUP_THRESHOLD)


_MH_SEEDS = 32
_MH_ROWS = 4  # rows per band -> 8 bands
_MH_VERIFY = 0.5


@register(
    "dedup_minhash_det",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(t) - {SHINGLE_N - 1}),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= {SHINGLE_N}),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    seeded AS (
        SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || s) AS h
        FROM ex, (SELECT unnest(range({_MH_SEEDS})) AS seed)),
    sigs AS (SELECT doc_id, seed, min(h) AS sig
             FROM seeded GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, CAST(seed // {_MH_ROWS} AS INT) AS band,
                     md5(string_agg(sig, ',' ORDER BY seed)) AS bsig
              FROM sigs GROUP BY doc_id, band),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.bsig = y.bsig
                  AND x.doc_id < y.doc_id),
    shared AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS shared,
               MIN(ea.n) AS n_a, MIN(eb.n) AS n_b
        FROM cand c
          JOIN ex ea ON ea.doc_id = c.a_id
          JOIN ex eb ON eb.doc_id = c.b_id AND eb.s = ea.s
        GROUP BY c.a_id, c.b_id)
    SELECT a_id, b_id, shared,
           CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
    FROM shared
    WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= {_MH_VERIFY}
    """,
)
def dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with a DETERMINISTIC md5 hash family, so unlike the
    pyspark.ml variant (dedup_minhash_lsh, engine-private coefficients,
    rows-only check) every stage — signatures, band buckets, candidate
    pairs, verified Jaccard — is reproduced bit-for-bit by the DuckDB
    oracle. {32} hashes in {8} bands of {4}: a pair collides in a band
    iff the band's 4 min-hashes all agree, giving the standard
    S-curve (P = 1-(1-J^4)^8, ~87% at J=0.7); bucket collisions are
    then verified against exact shingle Jaccard >= {0.5}.

    Scale shape: signatures are one groupBy(doc, seed) min-aggregation
    (map-side partials; never a cross join of docs); band buckets join
    on (band, band-signature) — sub-linear candidate generation, the
    corpus is never all-paired; verification joins only candidate pairs
    back to the shingle index."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
    ex = (
        toks.filter(F.size("t") >= SHINGLE_N)
        .select("doc_id", _shingles("t").alias("shingles"))
        .select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.explode("shingles").alias("s"),
        )
    )
    # the shingle index feeds both the signature pass and verification
    ex = materialize_once(ex)
    # All 32 signature mins in ONE per-doc aggregation (wide agg state,
    # map-side partials) — no 32x seed-explode of the shingle stream,
    # which would multiply the shuffle by the hash count. The md5
    # values are identical to the oracle's md5(seed || ':' || shingle).
    sig_cols = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))
        ).alias(f"sig{i}")
        for i in range(_MH_SEEDS)
    ]
    sigs = ex.groupBy("doc_id").agg(*sig_cols)
    # band signature straight from the columns (seed order is literal
    # column order — no collect_list/array_sort needed)
    band_cols = [
        F.md5(
            F.concat_ws(
                ",", *[F.col(f"sig{k * _MH_ROWS + i}") for i in range(_MH_ROWS)]
            )
        ).alias(f"b{k}")
        for k in range(_MH_SEEDS // _MH_ROWS)
    ]
    bands = sigs.select("doc_id", *band_cols).select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"b{k}") for k in range(_MH_SEEDS // _MH_ROWS)])
        ).alias("band", "bsig"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bsig") == F.col("y.bsig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id")
        )
        .distinct()
    )
    ea = ex.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"), "s")
    eb = ex.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"), "s")
    # no broadcast hint: the candidate set is data-dependent (unbounded
    # at scale) — AQE picks broadcast at runtime when it is small
    shared = (
        cand
        .join(ea, "a_id")
        .join(eb, ["b_id", "s"])
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return shared.select("a_id", "b_id", "shared", jac.alias("jaccard")).filter(
        F.col("jaccard") >= _MH_VERIFY
    )


_SH_BANDS = 4  # 4 x 16-bit bands over a 64-bit fingerprint
_SH_HAMMING = 8


def _simhash_oracle() -> str:
    """Generate the DuckDB mirror of the 64-bit md5-simhash: nibble
    j of the first 16 md5 hex chars contributes bits 4j..4j+3."""
    bit_sums = ",\n               ".join(
        f"SUM((strpos('0123456789abcdef', substr(h16, {b // 4 + 1}, 1)) - 1) "
        f"// {1 << (b % 4)} % 2) AS s{b}"
        for b in range(64)
    )
    bands = ",\n               ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN 2 * s{k * 16 + i} > n THEN {1 << i} ELSE 0 END)"
            for i in range(16)
        )
        + f" AS BIGINT) AS b{k}"
        for k in range(_SH_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band_idx, b{k} AS band_val FROM fp"
        for k in range(_SH_BANDS)
    )
    hamming = " + ".join(
        f"bit_count(xor(fa.b{k}, fb.b{k}))" for k in range(_SH_BANDS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                   string_split_regex(trim(lower(text)), '\\s+'),
                   x -> x <> ''))) AS w
        FROM documents),
    hashed AS (SELECT doc_id, substr(md5(w), 1, 16) AS h16 FROM toks),
    sums AS (
        SELECT doc_id, COUNT(*) AS n,
               {bit_sums}
        FROM hashed GROUP BY doc_id),
    fp AS (
        SELECT doc_id,
               {bands}
        FROM sums),
    bands AS ({band_rows}),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
             FROM bands x JOIN bands y
               ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                  AND x.doc_id < y.doc_id)
    SELECT c.a_id, c.b_id,
           CAST({hamming} AS INT) AS hamming
    FROM cand c
      JOIN fp fa ON fa.doc_id = c.a_id
      JOIN fp fb ON fb.doc_id = c.b_id
    WHERE {hamming} <= {_SH_HAMMING}
    """


@register("dedup_simhash_det", oracle=_simhash_oracle())
def dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs with a DETERMINISTIC md5 bit
    family — the cross-engine-verifiable sibling of dedup_simhash
    (whose xxhash64 family is engine-specific, rows-only). Each
    distinct token contributes its md5's first 64 bits; fingerprint
    bit b is the majority vote (1 iff more than half the tokens set
    it); candidate pairs share at least one of the 4 16-bit bands —
    complete for the Hamming <= 3 core by pigeonhole, and in practice
    for near-dups well past that; collisions are then verified by
    exact Hamming distance over the full fingerprint (threshold 8).

    Scale shape: the bit sums are ONE hash aggregation per doc (64
    integer sums, map-side partials), the band index is 4 rows per doc
    joined on (band, value) — sub-linear candidates, never all-pairs —
    and verification joins only candidate pairs back to the (tiny)
    fingerprint table."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.lower("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            )
        ).alias("w"),
    )
    hashed = toks.select(
        "doc_id", F.substring(F.md5("w"), 1, 16).alias("h16")
    )
    bit_sums = [
        F.sum(
            F.expr(
                f"CAST(conv(substring(h16, {b // 4 + 1}, 1), 16, 10) AS INT) "
                f"div {1 << (b % 4)} % 2"
            )
        ).alias(f"s{b}")
        for b in range(64)
    ]
    sums = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *bit_sums
    )
    band_cols = [
        sum(
            (
                F.when(2 * F.col(f"s{k * 16 + i}") > F.col("n"), 1 << i)
                .otherwise(0)
                for i in range(16)
            ),
            start=F.lit(0),
        )
        .cast("bigint")
        .alias(f"b{k}")
        for k in range(_SH_BANDS)
    ]
    fp = sums.select("doc_id", *band_cols)
    fp = materialize_once(fp)
    bands = fp.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{k}") for k in range(_SH_BANDS)])).alias(
            "band_idx", "band_val"
        ),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id")
        )
        .distinct()
    )
    fa = fp.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"b{k}").alias(f"a_b{k}") for k in range(_SH_BANDS)],
    )
    fb = fp.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"b{k}").alias(f"b_b{k}") for k in range(_SH_BANDS)],
    )
    hamming = sum(
        (
            F.bit_count(F.expr(f"a_b{k} ^ b_b{k}"))
            for k in range(_SH_BANDS)
        ),
        start=F.lit(0),
    ).cast("int")
    return (
        cand
        .join(fa, "a_id")
        .join(fb, "b_id")
        .select("a_id", "b_id", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SH_HAMMING)
    )


_CC_MAX_ROUNDS = 20  # safety bound; hash-to-min converges in O(log d) rounds


def _jaccard_pairs_oracle_cte() -> str:
    """`_JACCARD_COMMON_CTE` (the one shared copy of the shingle
    pipeline) plus the thresholded `edges` projection — used by the
    connected-components and savings oracles."""
    return rf"""{_JACCARD_COMMON_CTE},
    edges AS (
        SELECT p.a_id, p.b_id
        FROM pair_shared p
          JOIN sizes sa ON sa.doc_id = p.a_id
          JOIN sizes sb ON sb.doc_id = p.b_id
        WHERE CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared)
              >= {JACCARD_THRESHOLD})
    """


@register(
    "dedup_connected_components",
    oracle=rf"""
    WITH RECURSIVE {_jaccard_pairs_oracle_cte()},
    sym AS (
        SELECT a_id AS s, b_id AS d FROM edges
        UNION ALL
        SELECT b_id, a_id FROM edges),
    reach AS (
        SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT sym.d AS id, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
    comp AS (SELECT id AS doc_id, MIN(lab) AS component_id FROM reach GROUP BY id)
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup pair graph — the step an
    actual dedup pipeline runs after pair generation: near-duplication
    is not transitive, so keeping one doc per *pair* over-deletes;
    the correct unit is the connected component (pick one canonical doc
    per component). Nodes are all documents; edges are the
    `dedup_ngram_jaccard` pairs; component id = min doc_id reachable.

    Algorithm: iterative hash-to-min label propagation with pointer
    jumping — each round takes the min label over neighbors, then
    short-circuits label→label-of-label (path halving), giving
    O(log diameter) rounds instead of O(diameter). Each round is two
    shuffles (a join keyed on the edge endpoint + a min-aggregation),
    with a `materialize_once` barrier per round so lineage stays flat
    and every round runs at full parallelism. Convergence is detected
    by a scalar changed-row count (metadata-scale driver action).

    100 TB posture: this is the standard MapReduce-CC recipe (Kiveris
    et al.'s hash-to-min); rounds are data-parallel and the label
    frame is one row per doc. The driver holds only the loop counter
    and the convergence scalar — never data."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(edges, d.select(F.col("doc_id").alias("id")))
    w = Window.partitionBy("component_id")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component_id")
    ).withColumn("component_size", F.count(F.lit(1)).over(w))


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_rounds: int = _CC_MAX_ROUNDS
) -> DataFrame:
    """Hash-to-min connected components with pointer jumping (path
    halving): O(log diameter) rounds, each round two keyed shuffles and
    a `materialize_once` barrier. `edges` has columns (a_id, b_id);
    `nodes` has column (id). Returns the label frame (id, comp) where
    comp = min node id reachable. See `dedup_connected_components` for
    the full scale discussion; factored out so tests can drive it over
    adversarial graph shapes (long chains) directly."""
    # Barrier the edge list FIRST: the symmetric-closure union reads
    # `edges` twice (once per branch), and without the barrier each
    # branch re-executes the full upstream candidate-generation DAG —
    # at sf0.1 that was the entire Jaccard pipeline running twice
    # (~0.8 s wasted; at 100 TB, twice the most expensive stage).
    edges = materialize_once(edges.select("a_id", "b_id"))
    sym = materialize_once(
        edges.selectExpr("a_id AS src", "b_id AS dst").unionByName(
            edges.selectExpr("b_id AS src", "a_id AS dst")
        )
    )
    # Iterate ONLY over the edge-connected subgraph: a node with no
    # edges keeps comp = id forever, so singletons are unioned back
    # after convergence instead of riding every round's two shuffles.
    # In a near-dup graph the edge-touched set is a small fraction of
    # the corpus (most documents have no near-duplicate), so this cuts
    # per-round shuffle volume by that same fraction — the property
    # that keeps round latency flat as the corpus grows to 100 TB
    # while the duplicate population grows much slower.
    #
    # Round-0 seed: comp = min(id, min neighbor id). A plain identity
    # seed spends the entire first step() discovering exactly this, at
    # the cost of a union+groupBy AND a jump join; computing it directly
    # is one aggregation and starts every chain at half height —
    # measured one fewer round on every test graph (VERDICT r4 task 2).
    nbr_min = sym.groupBy(F.col("dst").alias("id")).agg(F.min("src").alias("nmin"))
    labels = materialize_once(
        nbr_min.select(
            "id", F.least(F.col("id"), F.col("nmin")).alias("comp")
        )
    )

    # Label-side join strategy (optimization r15, the pagerank gate
    # pattern): the label frame is one row per EDGE-TOUCHED doc — far
    # smaller than the corpus in a near-dup graph. While it fits
    # ``spark_graft.cc.broadcast_max_labels`` (default 1M ≈ 16 MB of
    # (id, comp) pairs), each round's proposals join broadcasts the
    # labels into a map-side probe of the checkpointed edge list —
    # zero per-round shuffle of sym AND lbl (the localCheckpoint hides
    # sym's partitioning from Catalyst, so pre-partitioning it can
    # never help — every non-broadcast round re-exchanges BOTH sides).
    # Above the gate the shuffle join returns unchanged. |labels| rides
    # the same collect as the convergence seed — no extra action.
    spark = edges.sparkSession
    seed_row = labels.agg(
        F.sum("comp").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]  # scale-ok: 1-row SUM+COUNT convergence/gate scalar
    prev_sum, n_labels = seed_row["s"], seed_row["n"]
    lbl_max = int(
        spark.conf.get("spark_graft.cc.broadcast_max_labels", "1000000")
    )
    lbl_side = F.broadcast if n_labels <= lbl_max else (lambda df: df)

    def step(lbl: DataFrame) -> DataFrame:
        # neighbor-min: each edge proposes its source's label to its dst
        proposals = sym.join(lbl_side(lbl), sym.src == lbl.id).select(
            F.col("dst").alias("id"), "comp"
        )
        new = (
            lbl.unionByName(proposals).groupBy("id").agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp <- comp[comp] (path halving); both
        # sides of the self-join share the one agg exchange (reuse) —
        # broadcasting here would force the agg to build twice
        jump = new.selectExpr("id AS jid", "comp AS jcomp")
        return materialize_once(
            new.join(jump, new.comp == jump.jid, "left").select(
                "id", F.coalesce("jcomp", "comp").alias("comp")
            )
        )

    # Convergence check: every label is monotonically non-increasing
    # (min-accumulated, and comp[comp] <= comp), so sum(comp) strictly
    # decreases while ANY label changes — an unchanged sum proves a
    # fixpoint. One tiny aggregation job per round instead of a
    # new-vs-old join. (A double-step-per-check variant was measured
    # ~35% SLOWER at sf0.1: real graphs converge in few rounds, and the
    # overshoot past the fixpoint costs more than the skipped checks.)
    # Seeding the comparison with the seed frame's own sum lets the
    # loop converge in a single verified step on the common shapes
    # (pairs, min-centered stars) where the neighbor-min seed IS the
    # fixpoint — the agg is one job over the already-needed cached
    # seed (prev_sum computed above, fused with the gate count).
    converged = False
    for _ in range(max_rounds):
        labels = step(labels)
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]  # scale-ok: 1-row SUM convergence scalar
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # returning partially-propagated labels would silently publish
        # wrong canonical survivors — fail loudly instead; the caller
        # raises max_rounds (log2(diameter) + slack is enough)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "raise max_rounds"
        )
    # singletons (no incident edge) re-join as their own component;
    # anti-join keeps the result exactly one row per input node
    singletons = nodes.join(labels.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("comp")
    )
    return labels.unionByName(singletons)


@register(
    "dedup_savings_report",
    oracle=rf"""
    WITH RECURSIVE {_jaccard_pairs_oracle_cte()},
    sym AS (
        SELECT a_id AS s, b_id AS d FROM edges
        UNION ALL
        SELECT b_id, a_id FROM edges),
    reach AS (
        SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT sym.d AS id, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
    comp AS (SELECT id AS doc_id, MIN(lab) AS component_id FROM reach GROUP BY id),
    sized AS (
        SELECT c.component_id, c.doc_id, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT component_id AS canonical_id,
           COUNT(*) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removed,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN doc_id <> component_id THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_saved
    FROM sized GROUP BY component_id
    HAVING COUNT(*) > 1
    """,
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What near-dup dedup actually buys: per multi-member component of
    the Jaccard pair graph, the canonical survivor (min doc_id), the
    member count, and the bytes the non-canonical members would free —
    the report a curation run publishes before committing a delete.

    Plan shape at 100 TB: the CC labels (one row per doc) join the
    corpus metadata on doc_id (co-partitioned with the label agg) and
    one component-keyed aggregation follows; singleton components are
    filtered AFTER aggregation by a HAVING on the count — nothing here
    touches document text."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(edges, d.select(F.col("doc_id").alias("id")))
    sized = labels.join(
        d.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    saved = F.when(F.col("id") != F.col("comp"), F.col("n_chars")).otherwise(0)
    return (
        sized.groupBy(F.col("comp").alias("canonical_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_removed"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(saved).cast("bigint").alias("chars_saved"),
        )
        .filter(F.col("n_members") > 1)
    )


@register(
    "graph_triangle_count",
    oracle=rf"""
    WITH {_JACCARD_COMMON_CTE},
    edges AS (
        SELECT p.a_id, p.b_id
        FROM pair_shared p
          JOIN sizes sa ON sa.doc_id = p.a_id
          JOIN sizes sb ON sb.doc_id = p.b_id
        WHERE CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared)
              >= {JACCARD_THRESHOLD})
    SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
    FROM edges e1
      JOIN edges e2 ON e2.a_id = e1.b_id
      JOIN edges e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup pair graph — the clique
    signal: a triangle means three documents that are pairwise near-
    duplicates (a tight duplicate cluster), vs a path which might chain
    unrelated docs through a hub. The standard MapReduce triangle
    recipe: edges are stored a<b only, so each triangle a<b<c appears
    exactly once as (a,b)+(b,c) closed by (a,c).

    Plan shape at 100 TB: two hash joins on single vertex keys — the
    first keyed on the shared middle vertex, the closing join on the
    (a, c) pair; no row ever fans out beyond the true wedge count.
    Skewed hubs (a vertex with d neighbors contributes d² wedges) are
    the known hazard; the mitigations (degree-ordered edge direction
    keeps wedge counts at min(d_in, d_out)) apply unchanged."""
    edges = materialize_once(
        dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    )
    e1 = edges.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    e2 = edges.select(F.col("a_id").alias("b"), F.col("b_id").alias("c"))
    e3 = edges.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


_PASSAGE_W = 16  # words per passage chunk


@register(
    "dedup_passages",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                            ' ') AS ws
        FROM documents),
    ps AS (
        SELECT doc_id, ws,
               unnest(range(0, CAST((len(ws) - 1) // {_PASSAGE_W} + 1
                                    AS BIGINT))) AS i
        FROM w WHERE len(ws) > 0),
    pas AS (
        SELECT doc_id,
               md5(array_to_string(
                   ws[CAST(i * {_PASSAGE_W} + 1 AS BIGINT)
                      :CAST(i * {_PASSAGE_W} + {_PASSAGE_W} AS BIGINT)],
                   ' ')) AS h
        FROM ps),
    f AS (SELECT h, MIN(doc_id) AS first_doc FROM pas GROUP BY h)
    SELECT pas.doc_id,
           COUNT(*) AS n_passages,
           CAST(SUM(CASE WHEN pas.doc_id > f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_passages
    FROM pas JOIN f ON pas.h = f.h
    GROUP BY pas.doc_id
    """,
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup — the sub-document pass large training
    pipelines run AFTER document dedup: boilerplate (headers, license
    blocks, navigation chrome) repeats across otherwise-distinct pages,
    so each document is chunked into fixed {_PASSAGE_W}-word passages
    and a passage already seen in an EARLIER document (min doc_id =
    first occurrence) counts as a duplicate. Downstream consumers drop
    or down-weight high-dup_ratio documents rather than whole-doc
    deleting.

    Plan shape at 100 TB: chunking is `sequence`+`explode`+`slice`
    inside whole-stage codegen (no collect_list — element order is
    positional, never aggregation-order dependent); first-occurrence
    is one hash agg on the 16-byte passage hash; the provenance join
    shuffles both sides on that same hash key (AQE coalesces); the
    final per-doc rollup is a partial-agg count. Nothing is ever
    all-pairs and the only wide rows are (doc_id, hash)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    words = F.split(_norm_text(F.col("text")), " ")
    passages = (
        d.select("doc_id", words.alias("ws"))
        .filter(F.size("ws") > 0)
        .select(
            "doc_id",
            "ws",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("ws") - 1) / _PASSAGE_W).cast("int"),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("ws"),
                        F.col("i") * _PASSAGE_W + 1,
                        _PASSAGE_W,
                    ),
                )
            ).alias("h"),
        )
    )
    passages = materialize_once(passages)
    firsts = passages.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        passages.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(
                F.when(F.col("doc_id") > F.col("first_doc"), 1).otherwise(0)
            ).cast("bigint").alias("n_dup_passages"),
        )
    )


_SEMDEDUP_TAU = 0.4  # same near-dup band the pairwise screens use


@register(
    "semdedup_prune",
    oracle=f"""
    WITH qv AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
    n AS (
        SELECT vec_id, label, v,
               sqrt(CAST(list_sum(list_transform(range(len(v)),
                   i -> v[i+1]*v[i+1])) AS DOUBLE)) AS nrm
        FROM qv)
    SELECT a.vec_id, a.label,
           EXISTS(
               SELECT 1 FROM n b
               WHERE b.label = a.label AND b.vec_id < a.vec_id
                 AND CAST(list_sum(list_transform(range(len(a.v)),
                         i -> a.v[i+1]*b.v[i+1])) AS DOUBLE)
                     / (a.nrm * b.nrm) >= {_SEMDEDUP_TAU}
           ) AS is_dup
    FROM n a
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, public): a
    vector is a duplicate when a LOWER-id vector in its own CLUSTER
    sits within cosine >= τ — the deterministic keep-lowest-id variant
    of the paper's per-cluster screen. Clustering to label first is
    the paper's complexity win: Σ|cluster|² pair work instead of N².

    Plan shape at 100 TB: ONE label-keyed shuffle into applyInPandas,
    one numpy GEMM per cluster (int64 milli-unit dots — exact, the
    cosine then uses the oracle's operand order), no cross-cluster
    pairs ever materialize. Cluster size bounds task memory the same
    way block size bounds the block-GEMM; at this scale the label
    plays the coarse-quantizer role embedding_cluster_assign computes
    for real pipelines."""
    import numpy as np
    import pandas as pd

    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    quant = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("v"),
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.asarray(
            [np.asarray(v, dtype=np.int64) for v in pdf["v"]], dtype=np.int64
        )
        nrm = np.sqrt((x * x).sum(axis=1).astype(np.float64))
        cos = (x @ x.T).astype(np.float64) / np.outer(nrm, nrm)
        lower = np.tril(cos >= _SEMDEDUP_TAU, k=-1)  # j < i neighbors only
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "is_dup": lower.any(axis=1),
            }
        )

    return quant.groupBy("label").applyInPandas(
        prune, "vec_id long, label int, is_dup boolean"
    )


_AFFIX_W = 12  # words hashed from each end


@register(
    "dedup_affix_stitch",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                   ' ') AS words
        FROM documents),
    eligible AS (SELECT doc_id, words FROM w
                 WHERE len(words) >= {2 * _AFFIX_W}),
    affix AS (
        SELECT doc_id,
               md5(array_to_string(words[1:{_AFFIX_W}], ' ')) AS prefix_h,
               md5(array_to_string(
                   words[len(words) - {_AFFIX_W} + 1:len(words)], ' '))
                   AS suffix_h
        FROM eligible),
    seams AS (
        SELECT 'seam' AS kind, a.doc_id AS a_id, b.doc_id AS b_id
        FROM affix a JOIN affix b
          ON a.suffix_h = b.prefix_h AND a.doc_id <> b.doc_id),
    heads AS (
        SELECT 'head' AS kind,
               min(doc_id) OVER (PARTITION BY prefix_h) AS a_id,
               doc_id AS b_id
        FROM affix
        QUALIFY b_id <> a_id)
    SELECT kind, a_id, b_id FROM seams
    UNION ALL
    SELECT kind, a_id, b_id FROM heads
    """,
)
def dedup_affix_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-stitching artifact detection: a document whose trailing
    {_AFFIX_W}-word affix EQUALS another document's leading affix is a
    split-document seam (one logical text sliced into overlapping
    shards by a scraper or chunker) — a duplication mode Jaccard misses
    because the overlap is a tiny fraction of both documents. Documents
    SHARING a leading affix ('head') are template/boilerplate starts —
    the scraped-page preamble screen — reported as STAR edges (cluster
    exemplar = the group's min doc_id → each other member), not all
    pairs: the connected components are identical, output is linear in
    members, and the exemplar row is the more useful boilerplate
    report. Affixes are md5-hashed over the same whitespace
    normalization as dedup_exact.

    100 TB posture: each document reduces to ONE (prefix_h, suffix_h)
    row in a single scan (array slice in codegen, no explode); the
    seam join is an equi-join on a 128-bit hash — candidates are true
    seams plus md5 collisions only, never a fan-out. The head branch is
    one window min per prefix hash (VERDICT r9: the previous pairwise
    self-join was quadratic on a hot boilerplate prefix — 1 M docs
    sharing one scraped-page preamble would emit ~5×10^11 pairs; the
    star form emits 10^6-1 rows). The docs-ending-like-they-begin
    self-pair is excluded by id."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    words = F.split(_norm_text(F.col("text")), " ")
    eligible = d.select("doc_id", words.alias("words")).filter(
        F.size("words") >= 2 * _AFFIX_W
    )
    affix = eligible.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("words", 1, _AFFIX_W))).alias("prefix_h"),
        F.md5(
            F.concat_ws(
                " ", F.slice("words", F.size("words") - _AFFIX_W + 1, _AFFIX_W)
            )
        ).alias("suffix_h"),
    )
    affix = materialize_once(affix)
    sa = affix.select(F.col("doc_id").alias("a_id"), F.col("suffix_h").alias("h"))
    sb = affix.select(F.col("doc_id").alias("b_id"), F.col("prefix_h").alias("h"))
    seams = (
        sa.join(sb, "h")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(F.lit("seam").alias("kind"), "a_id", "b_id")
    )
    from pyspark.sql import Window

    heads = (
        affix.select(F.col("doc_id").alias("b_id"), F.col("prefix_h").alias("h"))
        .withColumn("a_id", F.min("b_id").over(Window.partitionBy("h")))
        .filter(F.col("b_id") != F.col("a_id"))
        .select(F.lit("head").alias("kind"), "a_id", "b_id")
    )
    return seams.unionByName(heads)


@register(
    "dedup_minhash_calibration",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(t) - {SHINGLE_N - 1}),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= {SHINGLE_N}),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    seeded AS (
        SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || s) AS h
        FROM ex, (SELECT unnest(range({_MH_SEEDS})) AS seed)),
    sigs AS (SELECT doc_id, seed, min(h) AS sig
             FROM seeded GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, CAST(seed // {_MH_ROWS} AS INT) AS band,
                     md5(string_agg(sig, ',' ORDER BY seed)) AS bsig
              FROM sigs GROUP BY doc_id, band),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.bsig = y.bsig
                  AND x.doc_id < y.doc_id),
    matches AS (
        SELECT c.a_id, c.b_id,
               SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS m
        FROM cand c
          JOIN sigs sa ON sa.doc_id = c.a_id
          JOIN sigs sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
        GROUP BY c.a_id, c.b_id),
    exact AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS inter,
               MIN(ea.n) + MIN(eb.n) - COUNT(*) AS un
        FROM cand c
          JOIN ex ea ON ea.doc_id = c.a_id
          JOIN ex eb ON eb.doc_id = c.b_id AND eb.s = ea.s
        GROUP BY c.a_id, c.b_id),
    pair AS (
        SELECT m.a_id,
               (m.m * 1000000) // {_MH_SEEDS} AS est_ppm,
               (COALESCE(e.inter, 0) * 1000000)
                   // COALESCE(e.un, 1) AS exact_ppm,
               (COALESCE(e.inter, 0) * 10) // COALESCE(e.un, 1) AS decile
        FROM matches m LEFT JOIN exact e USING (a_id, b_id))
    SELECT CAST(decile AS INT) AS jaccard_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(est_ppm) AS DOUBLE) / COUNT(*) AS mean_est_ppm,
           CAST(SUM(exact_ppm) AS DOUBLE) / COUNT(*) AS mean_exact_ppm,
           CAST(SUM(abs(est_ppm - exact_ppm)) AS DOUBLE) / COUNT(*)
               AS mean_abs_err_ppm,
           CAST(MAX(abs(est_ppm - exact_ppm)) AS BIGINT) AS max_abs_err_ppm
    FROM pair GROUP BY decile
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-calibration report for the MinHash pipeline: on every
    LSH candidate pair, the signature-match Jaccard estimate (m/K)
    against the EXACT shingle Jaccard, bucketed by exact-Jaccard decile
    — the evidence a dedup rollout needs before trusting the estimate
    as a dedup verdict (how biased is m/K in the operating range, and
    how fat are the tails). Everything is integer ppm (one integer div
    per ratio) and the means are single divisions of exact sums, so the
    report is bit-equal cross-engine up to hash collisions: the exact
    intersection joins shingles on their xxhash64, not the string, so
    two distinct shingles of the corpus that share a 64-bit hash would
    move one pair's intersection by one (the oracle compares strings).

    Plan shape at 100 TB: identical candidate generation to
    dedup_minhash_det (banded LSH join — never all-pairs); the match
    count is a (pair, seed)-keyed join of the signature LONG form (K
    rows per doc, K fixed); the exact side reuses the shingle index
    join the verify stage already pays. Output is ≤ 11 decile rows."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
    ex = (
        toks.filter(F.size("t") >= SHINGLE_N)
        .select("doc_id", _shingles("t").alias("shingles"))
        .select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.explode("shingles").alias("s"),
        )
        # 8-byte join key for the exact-intersection side (optimization
        # r15) — the signature mins still hash the STRING (md5 is the
        # registered cross-engine contract), but the (pair, shingle)
        # equi-join ships xxhash64 instead of ~25-byte strings, the
        # same documented trade as dedup_ngram_jaccard's candidate join
        # (a 64-bit collision needs two distinct same-corpus trigrams
        # at ~n²/2⁶⁵ before one pair's intersection moves by one)
        .withColumn("h", F.xxhash64("s"))
    )
    ex = materialize_once(ex)
    sig_cols = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"sig{i}")
        for i in range(_MH_SEEDS)
    ]
    sigs = materialize_once(ex.groupBy("doc_id").agg(*sig_cols))
    band_cols = [
        F.md5(
            F.concat_ws(
                ",", *[F.col(f"sig{k * _MH_ROWS + i}") for i in range(_MH_ROWS)]
            )
        ).alias(f"b{k}")
        for k in range(_MH_SEEDS // _MH_ROWS)
    ]
    bands = sigs.select("doc_id", *band_cols).select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"b{k}") for k in range(_MH_SEEDS // _MH_ROWS)])
        ).alias("band", "bsig"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bsig") == F.col("y.bsig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
    )
    # signature match count from the wide columns — per-pair fixed work
    sig_arr = F.array(*[F.col(f"sig{i}") for i in range(_MH_SEEDS)])
    sa = sigs.select(F.col("doc_id").alias("a_id"), sig_arr.alias("ga"))
    sb = sigs.select(F.col("doc_id").alias("b_id"), sig_arr.alias("gb"))
    m = F.size(
        F.filter(
            F.zip_with(F.col("ga"), F.col("gb"), lambda a, b: a == b),
            lambda eq: eq,
        )
    )
    matches = cand.join(sa, "a_id").join(sb, "b_id").select(
        "a_id", "b_id", m.alias("m")
    )
    ea = ex.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"), "h")
    eb = ex.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"), "h")
    exact = (
        cand.join(ea, "a_id")
        .join(eb, ["b_id", "h"])
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            (F.min("n_a") + F.min("n_b") - F.count(F.lit(1))).alias("un"),
        )
    )
    pair = matches.join(exact, ["a_id", "b_id"], "left").select(
        F.expr(f"(m * 1000000) div {_MH_SEEDS}").alias("est_ppm"),
        F.expr("(coalesce(inter, 0) * 1000000) div coalesce(un, 1)").alias(
            "exact_ppm"
        ),
        F.expr("(coalesce(inter, 0) * 10) div coalesce(un, 1)")
        .cast("int")
        .alias("jaccard_decile"),
    )
    err = F.abs(F.col("est_ppm") - F.col("exact_ppm"))
    return pair.groupBy("jaccard_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.sum("est_ppm").cast("double") / F.count(F.lit(1))).alias(
            "mean_est_ppm"
        ),
        (F.sum("exact_ppm").cast("double") / F.count(F.lit(1))).alias(
            "mean_exact_ppm"
        ),
        (F.sum(err).cast("double") / F.count(F.lit(1))).alias(
            "mean_abs_err_ppm"
        ),
        F.max(err).cast("bigint").alias("max_abs_err_ppm"),
    )


_SUBSTR_W = 12  # minimum match length in tokens (Lee et al. use 50 BPE
# tokens on web corpora; 12 words keeps the screen non-trivial on the
# short synthetic documents while exercising the identical machinery)


@register(
    "dedup_substring_exact",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                            ' ') AS ws
        FROM documents),
    wins AS (
        SELECT doc_id, ws,
               unnest(range(0, len(ws) - {_SUBSTR_W} + 1)) AS i
        FROM w WHERE len(ws) >= {_SUBSTR_W}),
    fp AS (
        SELECT doc_id, i,
               md5(array_to_string(
                   ws[CAST(i + 1 AS BIGINT):CAST(i + {_SUBSTR_W} AS BIGINT)],
                   ' ')) AS h
        FROM wins),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.i AS ia, a.h, b.i - a.i AS diag
        FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id),
    isl AS (
        SELECT doc_a, doc_b, diag, ia,
               ia - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                       ORDER BY ia) AS grp
        FROM m),
    runs AS (
        SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run
        FROM isl GROUP BY doc_a, doc_b, diag, grp),
    shared AS (
        SELECT doc_a, doc_b,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shared_windows
        FROM m GROUP BY doc_a, doc_b)
    SELECT s.doc_a, s.doc_b, s.n_shared_windows,
           CAST({_SUBSTR_W} - 1 + MAX(r.run) AS BIGINT) AS max_match_tokens
    FROM shared s JOIN runs r
      ON s.doc_a = r.doc_a AND s.doc_b = r.doc_b
    GROUP BY s.doc_a, s.doc_b, s.n_shared_windows
    """,
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): flag every document pair that
    shares an exact token substring of >= {_SUBSTR_W} tokens — the
    industry-standard training-corpus screen that passage chunking
    (dedup_passages, fixed 16-word chunks) only approximates, since a
    long shared span straddling a chunk boundary slips past fixed
    chunks but can never slip past a SLIDING window: any shared run of
    length >= W contains at least one aligned W-token window.

    Per surviving pair the report carries n_shared_windows (distinct
    shared fingerprints) and max_match_tokens — the exact length of the
    longest shared run, recovered from the window matches without ever
    materializing substrings: a shared run of length L is a diagonal of
    L-W+1 consecutive window matches at constant offset delta, so a
    gaps-and-islands pass over (pair, diag) ordered by offset converts
    match coordinates into run lengths (max_match = W - 1 + longest
    island).

    Plan shape at 100 TB: window fingerprints are sequence+explode+
    slice+md5 inside whole-stage codegen — one narrow (doc_id, offset,
    16-byte hash) stream, no substring materialization past the hash;
    candidates come ONLY from the fingerprint equi-self-join (shuffle
    on h; hot boilerplate keys are exactly what AQE skew-join splits),
    never all-pairs; the islands pass is one window function over
    (pair, diag) partitions — match-sized, tiny after the join; both
    rollups are partial-agg hash aggregations. md5 stands in for the
    Rabin-Karp fingerprints of the paper (16-byte collisions are
    negligible and the same function is computable in the oracle
    engine); text.py's winnowing/rolling-hash machinery shares the
    convention (SURVEY.md §2.B dedup row)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    words = F.split(_norm_text(F.col("text")), " ")
    fp = (
        d.select("doc_id", words.alias("ws"))
        .filter(F.size("ws") >= _SUBSTR_W)
        .select(
            "doc_id",
            "ws",
            F.explode(
                F.sequence(F.lit(0), F.size("ws") - _SUBSTR_W)
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("ws"), F.col("i") + 1, _SUBSTR_W)
                )
            ).alias("h"),
        )
    )
    fp = materialize_once(fp)
    a, b = fp.alias("a"), fp.alias("b")
    m = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.i").alias("ia"),
        F.col("a.h").alias("h"),
        (F.col("b.i") - F.col("a.i")).alias("diag"),
    )
    m = materialize_once(m)
    wisl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = (
        m.withColumn("grp", F.col("ia") - F.row_number().over(wisl))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("doc_a", "doc_b")
        .agg(
            (F.lit(_SUBSTR_W - 1) + F.max("run"))
            .cast("bigint")
            .alias("max_match_tokens")
        )
    )
    shared = m.groupBy("doc_a", "doc_b").agg(
        F.countDistinct("h").cast("bigint").alias("n_shared_windows")
    )
    return shared.join(runs, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "n_shared_windows", "max_match_tokens"
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=rf"""
    WITH RECURSIVE {_jaccard_pairs_oracle_cte()},
    sym AS (
        SELECT a_id AS s, b_id AS d FROM edges
        UNION ALL
        SELECT b_id, a_id FROM edges),
    reach AS (
        SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT sym.d AS id, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
    comp AS (SELECT id AS doc_id, MIN(lab) AS component_id FROM reach GROUP BY id),
    csizes AS (SELECT component_id, COUNT(*) AS sz FROM comp GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(sz) AS BIGINT) AS n_documents
    FROM csizes GROUP BY 1
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the dedup QA readout
    curation teams actually look at: a heavy tail of giant components
    means the similarity threshold is too loose (boilerplate chaining
    unrelated docs into one cluster), a flat histogram at size 1 means
    it is too tight. Composes the connected-components labeling
    (pointer jumping, dedup_connected_components) with two
    component-bounded rollups.

    Plan shape at 100 TB: everything after the CC labels is keyed on
    component_id — one hash agg to sizes (≤ |components| rows), one
    ≤ max-size-group histogram rollup. The labeling itself is the
    audited pointer-jumping plan. Composes the RAW label frame, not
    dedup_connected_components' output (optimization r15): that
    query's per-doc component_size window is recomputed here by the
    sizes aggregate anyway, so riding it paid a full corpus-keyed
    window shuffle for a column this rollup throws away."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(
        edges, d.select(F.col("doc_id").alias("id"))
    )
    sizes = labels.groupBy(F.col("comp").alias("component_id")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.groupBy(
        F.col("sz").cast("bigint").alias("component_size")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.sum("sz").cast("bigint").alias("n_documents"),
    )


@register(
    "fuzzy_name_edit_pairs",
    oracle="""
    WITH v AS (
        SELECT c_custkey AS k, c_name,
               unnest(generate_series(1, length(c_name))) AS pos
        FROM customer),
    dv AS (SELECT k, c_name, pos,
                  substr(c_name, 1, pos - 1) || substr(c_name, pos + 1)
                      AS var
           FROM v),
    cand AS (
        SELECT a.pos, a.k AS a_k, b.k AS b_k,
               a.c_name AS an, b.c_name AS bn
        FROM dv a JOIN dv b
          ON a.pos = b.pos AND a.var = b.var AND a.k < b.k),
    nm AS (SELECT c_custkey AS k, c_name FROM customer),
    delc AS (
        SELECT a.pos, a.k AS lk, b.k AS sk
        FROM dv a JOIN nm b
          ON a.var = b.c_name AND a.k <> b.k),
    delp AS (
        SELECT LEAST(lk, sk) AS a_k, GREATEST(lk, sk) AS b_k,
               MIN(pos) AS pos
        FROM delc GROUP BY LEAST(lk, sk), GREATEST(lk, sk)),
    pairs AS (
        SELECT pos, a_k FROM cand WHERE levenshtein(an, bn) = 1
        UNION ALL
        SELECT pos, a_k FROM delp)
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(a_k) AS BIGINT) AS min_a_key
    FROM pairs
    GROUP BY pos
    """,
)
def fuzzy_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 entity pairs by SYMMETRIC-DELETE blocking (the
    SymSpell idea as a join), COMPLETE over both lev-1 shapes:
    (a) SUBSTITUTION — two equal-length names at substitution distance
    1 share exactly the deletion variant at the differing position, so
    the (position, variant) equi-join generates each such pair once.
    The verify is a plain name inequality: var equality forces equal
    name lengths, and same-position deletion variants of equal-length
    names being equal means the names agree at every OTHER position
    (Hamming ≤ 1) — so lev(an,bn)=1 ⟺ an ≠ bn on this candidate set
    exactly (the oracle keeps the levenshtein spelling; A/B-verified
    zero disagreement, and the O(L²) per-pair DP was 6× the cost of
    the equality compare at sf0.1 — optimization r14, guide §1.2
    "don't compute things you throw away"); (b) INSERT/DELETE — the shorter name IS a deletion variant
    of the longer, caught by joining variants against the raw names
    (lev = 1 by construction: lengths differ by 1 and the deletion
    equals the other name), deduped to the SMALLEST deleted position
    per unordered pair ('aab'/'ab' matches at positions 1 and 2 —
    counted once at 1). Output: per differing-position pair census —
    which key positions actually vary among near-identical entities,
    the signal an entity-resolution pipeline reads before choosing
    canonicalization rules.

    Plan shape at 100 TB: the variant explode is map-side ×L (L =
    name length, a constant); both joins shuffle on bounded-block
    keys — (pos, variant) blocks are bounded by the ALPHABET (names
    agreeing everywhere but one position), and a name matches at most
    |charset|·(L+1) single-insert longer names — so pairs grow
    LINEARLY in corpus size; the verify is a per-row codegen string
    equality on substitution candidates only. Contrast
    dedup_ngram_jaccard's df-capped shingle join (SCALE.md) — this is
    the short-string sibling with a structurally bounded block."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    dv = c.select(
        "k",
        "c_name",
        F.posexplode(F.expr("sequence(1, length(c_name))")).alias("_i", "pos"),
    ).select(
        "k",
        "c_name",
        "pos",
        F.expr(
            "concat(substring(c_name, 1, pos - 1), substring(c_name, pos + 1))"
        ).alias("var"),
    )
    dv = materialize_once(dv)
    a, b = dv.alias("a"), dv.alias("b")
    cand = a.join(
        b,
        (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.var") == F.col("b.var"))
        & (F.col("a.k") < F.col("b.k")),
    ).select(
        F.col("a.pos").alias("pos"),
        F.col("a.k").alias("a_k"),
        F.col("a.c_name").alias("an"),
        F.col("b.c_name").alias("bn"),
    )
    # lev(an,bn)=1 ⟺ an ≠ bn here (equal lengths + Hamming ≤ 1 by
    # construction, see docstring) — skip the O(L²) DP per pair
    sub_pairs = cand.filter(F.col("an") != F.col("bn")).select(
        "pos", "a_k"
    )
    # insert/delete lev-1 pairs: a deletion variant equal to ANOTHER
    # raw name (lengths differ by 1 → lev = 1 by construction);
    # smallest deleted position per unordered pair. A variant can only
    # match a name of its own length, so a broadcast semi-join against
    # the DISTINCT name lengths (a handful of values) prunes the
    # variant side before the string-keyed shuffle — on an
    # all-equal-length corpus (TPC-H names) it eliminates the entire
    # deletion path at the scan
    nm = c.select(F.col("k").alias("k2"), F.col("c_name").alias("n2"))
    dlen = nm.select(F.length("n2").alias("__l")).distinct()
    del_pairs = (
        dv.join(
            F.broadcast(dlen),
            F.length(F.col("var")) == F.col("__l"),
            "leftsemi",
        )
        .join(
            nm, (F.col("var") == F.col("n2")) & (F.col("k") != F.col("k2"))
        )
        .groupBy(
            F.least(F.col("k"), F.col("k2")).alias("a_k"),
            F.greatest(F.col("k"), F.col("k2")).alias("b_k"),
        )
        .agg(F.min("pos").alias("pos"))
        .select("pos", "a_k")
    )
    return (
        sub_pairs.unionByName(del_pairs)
        .groupBy(F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("a_k").cast("bigint").alias("min_a_key"),
        )
    )


@register(
    "source_overlap_matrix",
    oracle=rf"""
    WITH toks AS (
        SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents),
    sh AS (
        SELECT DISTINCT source,
               unnest(list_distinct(list_transform(
                   range(len(t) - {SHINGLE_N - 1}),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS s
        FROM toks WHERE len(t) >= {SHINGLE_N}),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY source),
    pair AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source)
    SELECT p.src_a, p.src_b, p.shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(p.shared * 1000000
                // least(sa.n, sb.n) AS BIGINT) AS containment_ppm
    FROM pair p
      JOIN sizes sa ON sa.source = p.src_a
      JOIN sizes sb ON sb.source = p.src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×source n-gram overlap matrix — the provenance screen a
    corpus audit runs before weighting sources: which sources share
    trigram vocabulary (mirrors, scrapes of the same upstream,
    boilerplate families). Shingles collapse to DISTINCT
    (source, trigram) pairs FIRST, so each source contributes one row
    per shingle no matter how many docs repeat it, and the pair count
    is the exact set intersection; containment = |A∩B|/min(|A|,|B|)
    in exact integer ppm.

    Plan shape at 100 TB: the (source, shingle) distinct is one hash
    agg whose output is bounded by sources × vocabulary (NOT corpus
    rows); the self-join fan-out per shingle is ≤ |sources| rows, so
    pairs per shingle are ≤ |sources|²/2 — a constant, no df cap
    needed (contrast dedup_ngram_jaccard's per-document join,
    SCALE.md). Output is the ≤ |sources|²/2 pair matrix."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select(
        "source", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    )
    sh = (
        toks.filter(F.size("t") >= SHINGLE_N)
        .select("source", F.explode(_shingles("t")).alias("s"))
        .select("source", F.xxhash64("s").alias("h"))
        .distinct()
    )
    sh = materialize_once(sh)
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            "n_a",
            "n_b",
            F.expr(
                "CAST(shared * 1000000 div least(n_a, n_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )
