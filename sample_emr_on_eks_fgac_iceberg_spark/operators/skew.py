"""Hotspot-avoidance utilities — the explicit counterparts to the two
single-task bottlenecks Spark plans by default: the hot aggregation
key (AQE's skew-join splitting rescues joins, not aggregates) and the
global-order window (`Window.orderBy` with no partitionBy = exchange
to ONE partition + a full sort there).

AQE rescues skewed *sort-merge joins* after a shuffle has already
materialized; salting avoids building the hot partition in the first
place, which is the better posture when the skew is known (power-law
user_ids, a null-heavy foreign key, one giant tenant). For skewed
joins where the small side fits in memory, `F.broadcast` already *is*
the fix — no shuffle of the big side at all — so the utilities here
cover the remaining cases: aggregation over a skewed key, exact
global running sums and ranks (`global_prefix`) and exact global order
statistics (NTILE cut-points) without a single-partition sort.

At 100 TB the salt count is sized so hot-key-rows / N fits one
executor's aggregate hash map (e.g. a 10⁹-row key with N=1024 → ~10⁶
rows per bucket).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import materialize_once

# (phase-1 aggregate over input rows, phase-2 combiner over partials)
AggSpec = tuple[Column, Callable[[str], Column]]


def two_phase_salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, AggSpec],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation over a skewed key.

    ``aggs`` maps output name → (phase1 aggregate, phase2 combiner):
    decomposable pairs like ``(F.sum(x), F.sum)``, ``(F.count(x),
    F.sum)``, ``(F.min(x), F.min)``, ``(F.max(x), F.max)``. Phase 1
    groups on (key, salt) so the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 re-combines the per-bucket
    partials by key. Both phases are ordinary hash aggregates with
    map-side combine.
    """
    # pmod keeps the salt domain at exactly [0, salt_buckets) — Spark's
    # % preserves the dividend's sign, which would double the bucket
    # count and break the sizing contract above.
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(*[phase1.alias(name) for name, (phase1, _) in aggs.items()])
    )
    return partial.groupBy(key).agg(
        *[combine(name).alias(name) for name, (_, combine) in aggs.items()]
    )


# monotonically_increasing_id layout: partition id in the upper 31
# bits, per-partition record number in the lower 33.
_MID_LOCAL_BITS = 33
_MID_LOCAL_MASK = (1 << _MID_LOCAL_BITS) - 1


def ntile_cutpoints(
    df: DataFrame,
    order_cols: Sequence[str],
    buckets: int,
    n_parts: int | None = None,
) -> list[Row]:
    """Exact NTILE(buckets) cut-point tuples over the total order
    ``order_cols`` — WITHOUT the single-partition global sort Spark
    plans for ``Window.orderBy`` with no partitionBy.

    Returns the ``buckets - 1`` rows sitting at the NTILE bucket
    boundaries (the last row of each of the first ``buckets - 1``
    buckets, per NTILE's front-loaded sizing: with n rows, q = n ÷ b
    and r = n mod b, bucket k ends at global position k·q + min(k, r)).
    A row's bucket is then ``1 + Σₖ [row > cutpoint_k]`` with plain
    tuple comparisons — broadcastable literals, no join, no window.
    Single-ordering convenience wrapper over `ntile_cutpoints_multi`
    (see there for the plan shape and the total-order requirement)."""
    out = ntile_cutpoints_multi(
        df.withColumn("__dim", F.lit("d")), "__dim", order_cols, buckets, n_parts
    )
    return out.get("d", [])


def ntile_cutpoints_multi(
    df: DataFrame,
    dim_col: str,
    order_cols: Sequence[str],
    buckets: int,
    n_parts: int | None = None,
) -> dict[str, list[Row]]:
    """NTILE cut-points for SEVERAL independent orderings stacked in
    one frame: ``df`` holds (dim_col, *order_cols) rows where each
    distinct ``dim_col`` value is its own ranking universe (e.g. RFM's
    recency/frequency/monetary dimensions unioned long-form). Returns
    {dim: [buckets-1 boundary rows]}.

    Plan: `_rows_at_positions` — ONE ``repartitionByRange`` keyed
    (dim, *order) no matter how many dimensions, per-(dim, partition)
    counts to the driver (n_parts × n_dims scalars), one filter
    fetching every dimension's boundary rows. Compare: three separate
    single-dim passes cost 3× (sample job + exchange + 2 actions);
    stacked, the same answer is 3 narrow rows per input row through
    ONE pipeline — at 1000 executors that is the difference between 9
    barriers and 3.

    Per-dim ``order_cols`` must be a total order (unique tie-break,
    no nulls); ties straddling a range boundary would otherwise make
    ranks nondeterministic.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")

    def ends(total: int) -> list[int]:
        q, r = divmod(total, buckets)
        return [k * q + min(k, r) for k in range(1, buckets)]

    found = _rows_at_positions(df, order_cols, ends, dim_col, n_parts)
    return {
        d: [rows[pos] for pos in ends(total)]
        for d, (total, rows) in found.items()
    }


def _rows_at_positions(
    df: DataFrame,
    order_cols: Sequence[str],
    positions: Callable[[int], Sequence[int]],
    dim_col: str | None = None,
    n_parts: int | None = None,
) -> dict:
    """The driver-located order-statistic fetch shared by
    `ntile_cutpoints_multi` and `exact_order_statistics`: the rows at
    1-based global ``positions(total)`` of each ranking universe (one
    per distinct ``dim_col`` value, or the whole frame), as
    {dim: (total, {position: row})} with dim 0 when ``dim_col`` is None.
    Empty input returns {}.

    ONE ``repartitionByRange`` keyed (dim, *order) + per-partition sort,
    then ``monotonically_increasing_id`` gives (partition id, local
    index), frozen by a checkpoint so the two actions below see the
    same assignment. One grouped count per (dim, partition) — the only
    driver-held state — locates every position; dims can share a
    partition, so a dim's rows inside partition p start after that
    partition's earlier-sorting dims. ONE filter fetches all targets."""
    n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    keys = [*([dim_col] if dim_col else []), *order_cols]
    ranked = (
        df.select(*keys)
        .repartitionByRange(n_parts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftrightunsigned("__mid", _MID_LOCAL_BITS)
    local = F.col("__mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    dim = F.col(dim_col) if dim_col else F.lit(0)
    # sizes[dim][pid] — n_parts × n_dims scalars, nothing more
    sizes: dict = {}
    for row in (
        ranked.groupBy(dim.alias("__d"), pid.alias("__pid"))
        .count()
        .collect()  # scale-ok: one count scalar per (dim, partition)
    ):
        sizes.setdefault(row["__d"], {})[row["__pid"]] = row["count"]
    targets: dict[tuple[int, int], tuple] = {}
    for d, by_pid in sizes.items():
        # global offset of dim d at partition p
        offsets, acc = {}, 0
        for p in sorted(by_pid):
            offsets[p] = acc
            acc += by_pid[p]
        for pos in set(positions(acc)):  # >= 1 whenever acc >= 1
            for p in sorted(by_pid):
                if pos <= offsets[p] + by_pid[p]:
                    base = sum(
                        sizes[d2].get(p, 0) for d2 in sizes if d2 < d
                    )
                    targets[(p, base + pos - offsets[p] - 1)] = (d, pos)
                    break
    found = {d: (sum(by_pid.values()), {}) for d, by_pid in sizes.items()}
    if not targets:
        return found
    cond = F.lit(False)
    for p, j in targets:
        cond = cond | ((pid == F.lit(p)) & (local == F.lit(j)))
    for row in ranked.where(cond).collect():  # scale-ok: K target order-statistic rows
        d, pos = targets[
            (row["__mid"] >> _MID_LOCAL_BITS, row["__mid"] & _MID_LOCAL_MASK)
        ]
        found[d][1][pos] = row
    return found


def ntile_assign(
    cutpoints: Sequence[Row],
    order_cols: Sequence[str],
    boundary_cols: Sequence[str] | None = None,
) -> Column:
    """Bucket-assignment column for `ntile_cutpoints` output: score =
    1 + number of cut-point tuples strictly below this row, evaluated
    as literal lexicographic comparisons (pure codegen arithmetic —
    no exchange of any kind in the consuming plan). ``boundary_cols``
    maps each order column to its name in the cut-point rows when the
    ranking ran over a renamed/stacked projection (see
    `ntile_cutpoints_multi`)."""
    bcols = list(boundary_cols or order_cols)
    score = F.lit(1)
    for b in cutpoints:
        gt = F.lit(False)
        eq = F.lit(True)
        for c, bc in zip(order_cols, bcols):
            gt = gt | (eq & (F.col(c) > F.lit(b[bc])))
            eq = eq & (F.col(c) == F.lit(b[bc]))
        score = score + gt.cast("int")
    return score


def global_prefix(
    df: DataFrame,
    order: Sequence[str | Column],
    sums: dict[str, Column],
    *,
    by: Sequence[str] = (),
    inclusive: bool = True,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact GLOBAL running sums over ``order`` without a
    single-partition window — the one distributed-prefix primitive every
    exact-rank query rides (a rank is the running sum of ``F.lit(1)``).

    Returns ``df``'s rows plus ``pid`` and, for each ``name → expr`` of
    ``sums``, ``name`` (the running sum of ``expr`` through this row —
    ``inclusive`` — or through the row before it) and ``name_total``
    (the sum over the row's whole universe). Each distinct ``by`` value
    is its own ranking universe sharing ONE range layout, so a
    multi-axis query stacks its axes long-form under a dim tag and pays
    a single range shuffle + barrier instead of one per axis.

    Plan: ``repartitionByRange(*by, *order)``, ``spark_partition_id()``
    stamped as ``pid``, one window per (pid, *by) for the LOCAL running
    sums (and a ``lead`` marking each partition's last row), then ONE
    checkpoint barrier. The last rows carry the per-partition partials;
    they collect into one aggregate row per universe that also holds the
    universe totals, and exploding it gives each partition's offset as
    the sum of the partials before it (K = partitions per universe —
    cluster width, never data size), broadcast back onto the rows:
    global = offset[pid] + local. The barrier is what makes this exact:
    ``spark_partition_id`` is only stable across the partials and the
    rows they join back into because both read the one checkpointed
    frame (a no-barrier variant was measured corrupting ranks), which is
    why no caller stamps a pid itself.

    ``order`` (names or sort Columns, e.g. ``F.col("n").desc()``) must
    order each universe totally, unless the caller reads only sums that
    do not depend on the order among tied rows. Sums keep Spark's
    ``sum`` type: bigint for integers, decimal for decimals, so
    ``decimal(38,0)`` magnitudes past 2⁶³ fold exactly; a null
    ``expr`` adds 0. Empty input yields an empty frame."""
    n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    by = list(by)
    lw = Window.partitionBy("pid", *by).orderBy(*order)
    upto = lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = materialize_once(
        df.repartitionByRange(n_parts, *by, *order)
        .withColumn("pid", F.spark_partition_id())
        .select(
            "*",
            *[
                F.coalesce(F.sum(e).over(upto), F.lit(0)).alias(f"__upto_{n}")
                for n, e in sums.items()
            ],
            F.lead(F.lit(1)).over(lw).isNull().alias("__last"),
        )
    )
    types = {n: dict(local.dtypes)[f"__upto_{n}"] for n in sums}
    # one row per universe: its partitions' partials (the last rows'
    # running sums) in pid order, and the totals
    universes = (
        local.filter("__last")
        .groupBy(*by)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("pid", *[F.col(f"__upto_{n}").alias(n) for n in sums])
                )
            ).alias("__parts"),
            *[F.sum(f"__upto_{n}").alias(f"{n}_total") for n in sums],
        )
    )
    before = F.slice("__parts", 1, F.col("__i"))

    def offset(n: str) -> Column:
        add = lambda acc, p: (acc + p[n]).cast(types[n])  # noqa: E731
        zero = F.lit(0).cast(types[n])
        return F.aggregate(before, zero, add).alias(f"__offset_{n}")

    fold = universes.select(
        "*", F.posexplode("__parts").alias("__i", "__part")
    ).select(
        *by,
        F.col("__part.pid").alias("pid"),
        *[offset(n) for n in sums],
        *[f"{n}_total" for n in sums],
    )

    def running(n: str) -> Column:
        through = F.col(f"__offset_{n}") + F.col(f"__upto_{n}")
        if not inclusive:
            through = through - F.coalesce(sums[n], F.lit(0))
        return through.cast(types[n]).alias(n)

    return local.join(F.broadcast(fold), ["pid", *by]).select(
        *df.columns,
        "pid",
        *[running(n) for n in sums],
        *[f"{n}_total" for n in sums],
    )


def partition_prefix_min(
    partials: "DataFrame", pid_col: str = "pid", val_col: str = "v"
) -> "DataFrame":
    """Per-partition prefix MINIMUM — the running-min analog of
    `global_prefix`'s offsets fold (one row per range partition): returns
    a broadcastable (pid, __prior_min) frame where ``__prior_min`` is
    the minimum of ``val_col`` over all LOWER pids (null for the first
    partition). With a range partitioning whose order matches the
    logical scan order, joining this back turns a per-partition local
    running min into the exact global one — the skyline/dominance fold
    — without any single-partition window.

    Computed IN-PLAN: a pid<pid theta self-join + MIN agg over the
    ≤K-row partials (K = partition count, cluster width not data size);
    NULL ``val_col`` rows drop out of MIN, and the first partition's
    empty match set yields a NULL ``__prior_min``. Same barrier contract
    as `global_prefix`: both consumers of the pid must read the one
    checkpointed pid-stamped frame."""
    vt = dict(partials.dtypes)[val_col]
    a = partials.select(F.col(pid_col).alias("__a_pid"))
    b = partials.select(
        F.col(pid_col).alias("__b_pid"), F.col(val_col).alias("__b_v")
    )
    return (
        a.join(b, F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(F.min("__b_v").cast(vt).alias("__prior_min"))
        .select(F.col("__a_pid").alias(pid_col), "__prior_min")
    )


def exact_order_statistics(
    df: DataFrame,
    order_cols: Sequence[str],
    quantiles: Sequence[tuple[int, int]],
    n_parts: int | None = None,
) -> list[tuple[tuple[int, int], int, Row]]:
    """EXACT order statistics over the total order ``order_cols``
    without a single-partition global sort: for each rational quantile
    (num, den) the row at global ascending position
    ceil(num·n / den) (floored at 1) — the discrete-quantile position
    rule, computed in integers so any oracle can mirror it bit-for-bit.

    Returns [(quantile, position, row)] in the given quantile order,
    or [] on empty input. Same machinery as ``ntile_cutpoints``
    (`_rows_at_positions`): one repartitionByRange + per-partition
    sort, per-partition counts to the driver (n_parts scalars), then
    ONE filter fetches all target rows. ``order_cols`` must be a strict
    total order (unique tie-break, no nulls)."""

    def positions(n: int) -> list[int]:
        # ceil(num*n/den), floored at 1
        return [max(1, -(-(num * n) // den)) for num, den in quantiles]

    found = _rows_at_positions(df, order_cols, positions, n_parts=n_parts)
    if not found:
        return []
    [(n, rows)] = found.values()
    return [
        (tuple(q), pos, rows[pos]) for q, pos in zip(quantiles, positions(n))
    ]


def weighted_order_statistic(
    df: DataFrame,
    order_cols: Sequence[str],
    weight_col: str,
    num: int,
    den: int,
    n_parts: int | None = None,
):
    """EXACT weighted order statistic without a single-partition sort:
    the first row (in the strict total order ``order_cols``) whose
    running weight reaches ceil(num·W/den), W = total weight — the
    lower weighted quantile rule, all-integer so an oracle mirrors it
    bit-for-bit. Returns (W, row) or (0, None) on empty input.

    Same K-scalar machinery as exact_order_statistics: ONE
    repartitionByRange + per-partition sort + local cumulative-weight
    window (per-partition — never global), per-partition weight sums to
    the driver, then a single bounded filter+limit fetches the crossing
    row from the one partition that contains it."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    ranked = (
        df.select(*order_cols, weight_col)
        .repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    lw = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ranked.withColumn("__cumw", F.sum(weight_col).over(lw))
    by_pid = {
        r["__pid"]: int(r["w"])
        for r in ranked.groupBy("__pid")
        .agg(F.sum(weight_col).alias("w"))
        .collect()  # scale-ok: one weight-sum scalar per partition
    }
    total = sum(by_pid.values())
    if total <= 0:
        return 0, None
    target = max(1, -(-(num * total) // den))  # ceil(num*W/den)
    acc = 0
    hit_pid, rem = None, None
    for p in sorted(by_pid):
        if target <= acc + by_pid[p]:
            hit_pid, rem = p, target - acc
            break
        acc += by_pid[p]
    rows = (
        cum.filter((F.col("__pid") == hit_pid) & (F.col("__cumw") >= rem))
        .orderBy(*order_cols)
        .limit(1)
        .collect()  # scale-ok: the single crossing row
    )
    return total, rows[0]
