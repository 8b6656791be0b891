"""One-pass table profiling: per-column row/null/distinct counts and
min/max, returned in long format (net-new; the closest reference surface
is its reflection-based schema probe, src/run/db/reflection.py:17-84,
which only discovers names/types — this op profiles the *data*).

Scale notes: ALL per-column statistics compile into ONE global aggregate
over ONE scan — Spark plans the multiple exact count(DISTINCT) via a
single Expand (rows multiply by the number of distinct aggregates, then
partial-aggregate map-side before the one shuffle). At extreme scale pass
``approx=True`` to swap exact distincts for HyperLogLog++
approx_count_distinct, which removes the Expand entirely; the exact
variant is the oracle-checkable default. The wide 1-row aggregate is then
unpivoted driver-free with ``stack`` — no per-column jobs, unlike
``df.summary()`` which cannot do distincts at all.

min/max are cast to string AFTER aggregating on the native type (so
ordering is native, rendering is uniform). Profile integer/string columns
for cross-engine parity — float rendering differs between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import fround


def profile_table(df: DataFrame, cols=None, approx: bool = False) -> DataFrame:
    """(column_name, n_rows, n_nonnull, n_null, n_distinct, min_value,
    max_value) — one row per profiled column, one scan total."""
    cols = list(cols) if cols is not None else df.columns
    distinct = (
        "approx_count_distinct(`{c}`)" if approx else "count(DISTINCT `{c}`)"
    )
    aggs = ["count(*) AS n_rows"]
    for c in cols:
        aggs += [
            f"count(`{c}`) AS __nn_{c}",
            distinct.format(c=c) + f" AS __nd_{c}",
            f"CAST(min(`{c}`) AS STRING) AS __mn_{c}",
            f"CAST(max(`{c}`) AS STRING) AS __mx_{c}",
        ]
    # ONE selectExpr over a global aggregate: selectExpr with aggregate
    # functions implies a global agg in Spark SQL
    wide = df.selectExpr(*aggs)
    stack_args = []
    for c in cols:
        stack_args.append(f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}")
    long = wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {', '.join(stack_args)}) AS "
        "(column_name, n_nonnull, n_distinct, min_value, max_value)",
    )
    return long.selectExpr(
        "column_name",
        "n_rows",
        "n_nonnull",
        "n_rows - n_nonnull AS n_null",
        "n_distinct",
        "min_value",
        "max_value",
    )


def histogram(
    df: DataFrame,
    col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram: (bin, lo_edge, hi_edge, n), only non-empty
    bins. With explicit ``lo``/``hi`` this is ONE narrow codegen'd pass +
    one tiny groupBy(bin) shuffle; without them a (min, max) aggregate
    job runs first to fix the range — pass the range when you know it.

    Values land in ``floor((x - lo) / width)`` clamped to the last bin
    (so ``x == hi`` is included, the numpy convention); out-of-range rows
    are dropped. All edge arithmetic is plain IEEE doubles — identical
    in any engine, so results are exactly reproducible."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if lo is None or hi is None:
        row = df.selectExpr(
            f"CAST(min(`{col}`) AS DOUBLE) AS lo", f"CAST(max(`{col}`) AS DOUBLE) AS hi"
        ).collect()[0]
        lo = row["lo"] if lo is None else lo
        hi = row["hi"] if hi is None else hi
        if lo is None:
            raise ValueError(f"column {col!r} has no non-null values")
    lo, hi = float(lo), float(hi)
    if not hi > lo:
        raise ValueError("require hi > lo")
    width = (hi - lo) / bins
    return (
        df.where(
            f"`{col}` IS NOT NULL AND `{col}` >= {lo!r}D AND `{col}` <= {hi!r}D"
        )
        .selectExpr(
            f"least({bins - 1}, CAST(floor((CAST(`{col}` AS DOUBLE) - {lo!r}D) "
            f"/ {width!r}D) AS BIGINT)) AS bin"
        )
        .groupBy("bin")
        .count()
        .selectExpr(
            "bin",
            f"{lo!r}D + bin * {width!r}D AS lo_edge",
            f"{lo!r}D + (bin + 1) * {width!r}D AS hi_edge",
            "count AS n",
        )
    )


def approx_quantiles(
    df: DataFrame,
    cols,
    probs=(0.25, 0.5, 0.75, 0.9),
    accuracy: int = 10000,
) -> DataFrame:
    """(column_name, prob, value) — approximate percentiles for several
    numeric columns in ONE pass.

    This is the 100 TB percentile path: ``percentile_approx`` maintains a
    bounded Greenwald-Khanna-style sketch per partition and merges the
    partials, so memory is O(accuracy) regardless of row count and the
    only shuffle is the tiny sketch merge — exact ``percentile`` must
    buffer every value per group. Guaranteed rank error <= 1/accuracy
    (deterministic for a given dataset/accuracy, but sketch-dependent, so
    this op is rows-only checked rather than DuckDB-oracle'd; the exact
    twin lives in the ``quantiles`` query).

    All columns and probabilities compute in ONE global aggregate over
    ONE scan, then stack-unpivot to long format — no per-column jobs.
    """
    cols = list(cols)
    probs = [float(p) for p in probs]
    arr = "array(" + ",".join(f"{p}D" for p in probs) + ")"
    aggs = [
        f"percentile_approx(`{c}`, {arr}, {int(accuracy)}) AS `__q_{c}`"
        for c in cols
    ]
    wide = df.selectExpr(*aggs)
    pieces = []
    for c in cols:
        for j, p in enumerate(probs):
            pieces.append(f"'{c}', {p}D, CAST(try_element_at(`__q_{c}`, {j + 1}) AS DOUBLE)")
    stack = f"stack({len(cols) * len(probs)}, " + ", ".join(pieces) + ")"
    return wide.selectExpr(f"{stack} AS (column_name, prob, value)")


def grid_percentiles(
    df: DataFrame,
    value_col: str,
    qs: dict,
    by=None,
    accuracy: int = 10000,
) -> DataFrame:
    """DISTRIBUTED exact interpolated percentiles — one row per group
    with one column per requested quantile (``qs`` maps output name ->
    probability in [0, 1]). Results are bit-identical to Spark's exact
    ``percentile(...)`` aggregate (pinned by a parity test) and to DuckDB
    ``quantile_cont`` — but with bounded memory everywhere, so it is the
    scale-safe replacement wherever an exact percentile must survive a
    huge or skewed group (``percentile`` buffers EVERY value of a group
    in one non-spillable ObjectHashAggregate buffer — the 100 TB killer
    when e.g. one language holds half the corpus).

    Algorithm (approximate-bracket exact refinement): one
    ``percentile_approx`` (Greenwald-Khanna) pass per group brackets each
    target with value bounds whose RANK error is guaranteed ≤
    n/accuracy, plus the group count; a second narrow aggregate counts
    rows strictly below each lower bound (the bracket's exact global
    rank offset); the third pass sorts ONLY the in-bracket rows (≈
    8·n/accuracy rows per quantile, 10⁴× smaller than the group) in a
    per-(group, quantile) window and reads the two exact order
    statistics at ``floor/ceil(q·(n−1))``. The GK sketch is partial-
    mergeable and bounded; no full-group sort, shuffle, or buffer exists
    anywhere — worst-case per-reducer work is O(n/accuracy), tunable.
    The approx bounds only GATE the refinement: any bracket satisfying
    the GK guarantee yields the same exact result, so nondeterminism in
    sketch merging cannot reach the output.

    Determinism: replicates Spark ``Percentile.getPercentile`` bit-for-bit
    — ``pos = q * (n-1)`` in doubles, result =
    ``(ceil(pos)-pos)*v_lo + (pos-floor(pos))*v_hi`` — which the oracle
    suite has established is itself bit-identical to DuckDB
    ``quantile_cont`` (see the ``quantiles`` query).

    NOTE (laziness): the bounded GK bracket frame is eagerly
    localCheckpointed (r9 — the full-data sketch pass otherwise ran 2-3×
    through differently-pruned consumers), so merely CONSTRUCTING any
    frame that embeds this op (winsorize exact, time_split,
    quantile_bucketize, plan inspection, wire round-trips) executes one
    full scan+sketch job even if the result is never collected. The
    measured re-execution win outweighs plan-only construction cost in
    every shipped call site; if a plan-only path ever needs to avoid the
    job, thread a lazy barrier through instead (the IvfIndex
    checkpoint-on-first-action pattern).
    """
    by = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col)
    base = df.where(v.isNotNull()).select(*by, value_col)
    names = list(qs)
    eps4 = 4.0 / accuracy

    def _nullsafe_join(left, right, keys):
        """Broadcast equi-join that (unlike on=keys) keeps NULL group
        keys matched — NULL is a normal group value here."""
        if not keys:
            return left.crossJoin(F.broadcast(right))
        r = right
        for k in keys:
            r = r.withColumnRenamed(k, f"__r_{k}__")
        cond = None
        for k in keys:
            c = left[k].eqNullSafe(r[f"__r_{k}__"])
            cond = c if cond is None else (cond & c)
        return left.join(F.broadcast(r), cond).drop(
            *[f"__r_{k}__" for k in keys]
        )

    probs = [max(0.0, min(1.0, qs[n] - eps4)) for n in names] + [
        max(0.0, min(1.0, qs[n] + eps4)) for n in names
    ]
    gk = base.groupBy(*by).agg(
        F.count(F.lit(1)).alias("__n__"),
        F.percentile_approx(
            value_col, F.array(*[F.lit(p) for p in probs]), F.lit(int(accuracy))
        ).alias("__gk__"),
    )
    nq = len(names)
    gk = gk.select(
        *by,
        "__n__",
        *[F.col("__gk__")[i].alias(f"__blo_{n}__") for i, n in enumerate(names)],
        *[
            F.col("__gk__")[nq + i].alias(f"__bhi_{n}__")
            for i, n in enumerate(names)
        ],
    )
    # eager barrier (r9): `joined` is consumed by BOTH the below-count
    # aggregate and the bracket window with different column pruning, so
    # the broadcast gk subtrees are not structurally identical and never
    # reuse — the FULL-DATA GK sketch pass executed 2-3× per call (at
    # any scale, not just locally). gk is bounded at one row per group
    # (the design already broadcasts it), so the checkpoint is bounded;
    # _nullsafe_join broadcast-hints explicitly, covering the
    # LogicalRDD no-size-estimate trap.
    gk = gk.localCheckpoint(eager=True)
    joined = _nullsafe_join(base, gk, by)
    counts = joined.groupBy(*by).agg(
        *[
            F.count(F.when(v < F.col(f"__blo_{n}__"), 1)).alias(
                f"__below_{n}__"
            )
            for n in names
        ]
    )
    ex = joined.select(
        "*", F.explode(F.array(*[F.lit(n) for n in names])).alias("__q__")
    )
    # Small-group guard: the ±4/accuracy probability padding is ≥3 ranks
    # of slack only when n ≥ accuracy (for n ≥ accuracy the slack is
    # 4n/accuracy ranks minus the GK error n/accuracy — ≥ 3 ranks, which
    # covers the one-position difference between GK's rank-q·n convention
    # and the interpolation's ceil(q·(n−1)) index). Below that, the
    # bracket can clip the ceil position (observed: a 2-row group's q1
    # came back NULL) — so groups with n ≤ accuracy skip the bracket
    # filter and sort whole (≤ accuracy rows per partition — trivial).
    in_bracket = F.col("__n__") <= F.lit(int(accuracy))
    for n in names:
        c = (F.col("__q__") == n) & (v >= F.col(f"__blo_{n}__")) & (
            v <= F.col(f"__bhi_{n}__")
        )
        in_bracket = in_bracket | c
    ex = ex.where(in_bracket)
    ex = _nullsafe_join(ex, counts, by)
    w_in = Window.partitionBy(*by, "__q__").orderBy(value_col)
    below = F.lit(None)
    qlit = F.lit(None)
    for n in names:
        below = F.when(F.col("__q__") == n, F.col(f"__below_{n}__")).otherwise(
            below
        )
        qlit = F.when(F.col("__q__") == n, F.lit(float(qs[n]))).otherwise(qlit)
    # whole-group windows (small-group path) start at rank 0 — their
    # below-bracket rows are IN the window, so the offset must be zero
    below = F.when(F.col("__n__") <= F.lit(int(accuracy)), F.lit(0)).otherwise(
        below
    )
    pos = qlit * (F.col("__n__") - F.lit(1)).cast("double")
    g0 = (below + F.row_number().over(w_in) - F.lit(1)).alias("__g0__")
    ex = ex.select(
        *by, value_col, "__q__", "__n__", pos.alias("__pos__"), g0
    )
    aggs = [F.max("__n__").alias("__n__")]
    for n in names:
        sel = F.col("__q__") == n
        aggs.append(
            F.max(
                F.when(
                    sel & (F.col("__g0__") == F.floor("__pos__")), v
                )
            )
            .cast("double")
            .alias(f"__lo_{n}__")
        )
        aggs.append(
            F.max(F.when(sel & (F.col("__g0__") == F.ceil("__pos__")), v))
            .cast("double")
            .alias(f"__hi_{n}__")
        )
    agg = ex.groupBy(*by).agg(*aggs)
    outs = list(by)
    for n in names:
        pos = F.lit(float(qs[n])) * (F.col("__n__") - F.lit(1)).cast("double")
        lo_d, hi_d = F.floor(pos).cast("double"), F.ceil(pos).cast("double")
        lo_v, hi_v = F.col(f"__lo_{n}__"), F.col(f"__hi_{n}__")
        outs.append(
            F.when(lo_d == hi_d, lo_v)
            .otherwise((hi_d - pos) * lo_v + (pos - lo_d) * hi_v)
            .alias(n)
        )
    return agg.select(*outs)


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Population Stability Index between two snapshots of a metric —
    the standard drift gate between a reference corpus/model-input
    distribution (``df_a``) and a new one (``df_b``). Output: one row per
    bin (bin, n_a, n_b, pa, pb, psi_term) plus the total ``psi`` repeated
    on every row; PSI < 0.1 is conventionally "no drift", > 0.25 "major".

    The range is explicit (no min/max pre-job) and shared, so both sides
    bin identically (same clamp convention as :func:`histogram`). Counts
    are add-one smoothed per bin — empty bins contribute mass 1/(N+bins)
    and never a ln(0).

    Scale: each snapshot scans ONCE into a tiny per-bin count frame (one
    groupBy(bin) with map-side combine over the union); everything after
    runs on <= bins rows. Cross-engine determinism: ln(pa/pb) rounds to
    4 dp pre-product (libm may differ by 1 ulp; the lm_score/tfidf
    precedent) and per-bin terms scale to exact integers before the sum,
    so PSI is bit-identical regardless of order."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    lo, hi = float(lo), float(hi)
    if not hi > lo:
        raise ValueError("require hi > lo")
    width = (hi - lo) / bins

    def binned(df, side):
        return df.where(
            f"`{col}` IS NOT NULL AND `{col}` >= {lo!r}D AND `{col}` <= {hi!r}D"
        ).selectExpr(
            f"least({bins - 1}, CAST(floor((CAST(`{col}` AS DOUBLE) - {lo!r}D) "
            f"/ {width!r}D) AS BIGINT)) AS bin",
            f"'{side}' AS side",
        )

    counts = (
        binned(df_a, "a")
        .unionByName(binned(df_b, "b"))
        .groupBy("bin")
        .agg(
            F.count_if(F.col("side") == "a").alias("n_a"),
            F.count_if(F.col("side") == "b").alias("n_b"),
        )
    )
    spine = (
        df_a.sparkSession.range(bins)
        .selectExpr("CAST(id AS BIGINT) AS bin")
        .join(counts, on="bin", how="left")
        .fillna(0, subset=["n_a", "n_b"])
    )
    everything = Window.partitionBy()
    pa = (F.col("n_a") + 1) / (F.sum("n_a").over(everything) + bins)
    pb = (F.col("n_b") + 1) / (F.sum("n_b").over(everything) + bins)
    with_p = spine.select(
        "bin", "n_a", "n_b", pa.alias("pa"), pb.alias("pb")
    )
    # fround (pure-IEEE floor form) everywhere a plain round() could hit a
    # decimal tie: pa/pb ARE integer ratios (the 2^(k+1)·5^b hazard class)
    ln_r = fround(F.log(F.col("pa") / F.col("pb")), 4)
    term_scaled = F.floor(
        (F.col("pa") - F.col("pb")) * ln_r * F.lit(1e8) + F.lit(0.5)
    )
    with_terms = with_p.select(
        "bin",
        "n_a",
        "n_b",
        fround(F.col("pa"), 8).alias("pa"),
        fround(F.col("pb"), 8).alias("pb"),
        term_scaled.alias("__t__"),
    )
    return with_terms.select(
        "bin",
        "n_a",
        "n_b",
        "pa",
        "pb",
        (F.col("__t__") / F.lit(1e8)).alias("psi_term"),
        (F.sum("__t__").over(everything) / F.lit(1e8)).alias("psi"),
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_col=None,
    threshold: float = 3.0,
    keep_cols=None,
) -> DataFrame:
    """Rows whose value lies more than ``threshold`` sample standard
    deviations from their group's mean — the classic anomaly gate over
    metrics/prices/latencies. Output: keep_cols + (group) + value + z.

    Scale: ONE aggregation over the data computes per-group (n, Σv, Σv²)
    with map-side partials; the tiny stats frame broadcast-joins back and
    the z filter is a codegen'd narrow pass (two scans total — the
    agg-then-join-back shape, like mix_corpora).

    Cross-engine determinism: Σv and Σv² accumulate as DECIMAL (the
    per-row square is a single IEEE multiply, deterministic), so the
    moments are exact regardless of aggregation order; variance uses the
    fixed-order formula (Σv² − (Σv)²/n)/(n−1) in doubles, sqrt is
    IEEE-exact-rounded, and z rounds to 4 dp. Degenerate groups (n < 2 or
    zero variance) emit no rows. |value| bound: < 1e6.
    """
    groups = (
        [group_col] if isinstance(group_col, str) else list(group_col or [])
    )
    keep_cols = list(keep_cols or [])
    v = F.col(value_col)
    stats = (
        df.where(v.isNotNull())
        .groupBy(*[F.col(g) for g in groups])
        .agg(
            F.count(v).alias("__n__"),
            F.sum(v.cast("decimal(18,6)")).alias("__s__"),
            F.sum((v * v).cast("decimal(30,10)")).alias("__q__"),
        )
    )
    joined = (
        df.where(v.isNotNull()).join(F.broadcast(stats), on=groups)
        if groups
        else df.where(v.isNotNull()).crossJoin(F.broadcast(stats))
    )
    n = F.col("__n__")
    s_d = F.col("__s__").cast("double")
    q_d = F.col("__q__").cast("double")
    mean = s_d / n
    var = (q_d - s_d * s_d / n) / (n - 1)
    z = fround((v - mean) / F.sqrt(var), 4) + F.lit(0.0)
    return (
        joined.where((n > 1) & (var > 0))
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > threshold)
        .select(*keep_cols, *groups, value_col, "z")
    )


def check_constraints(df: DataFrame, rules, fk_checks=None) -> DataFrame:
    """Data-quality gate (Deequ-style, reduced to one pass): evaluate
    declarative constraints and report ``(rule, column, n_checked,
    n_violations)`` per rule.

    ``rules`` — list of tuples:
      ("not_null", col) · ("unique", col) · ("range", col, lo, hi) ·
      ("regex", col, pattern) · ("accepted", col, [values])
    ``fk_checks`` — list of (col, dim_df, dim_col): referential checks.

    Scale: ALL row-level rules and uniqueness checks compile into ONE
    global aggregate over ONE scan (uniqueness via exact count DISTINCT —
    the same single-Expand plan as profile_table); each FK check adds one
    left-anti join counted, reusing the dim broadcast when small. NULLs:
    range/regex/accepted skip NULL values (report them via not_null);
    unique counts duplicates among non-null values only."""
    aggs = ["count(*) AS __n__"]
    emits = []
    for idx, rule in enumerate(rules):
        kind, col = rule[0], rule[1]
        if kind == "not_null":
            aggs.append(f"count(*) - count(`{col}`) AS __v{idx}__")
        elif kind == "unique":
            aggs.append(f"count(`{col}`) - count(DISTINCT `{col}`) AS __v{idx}__")
        elif kind == "range":
            lo, hi = rule[2], rule[3]
            aggs.append(
                f"count(CASE WHEN `{col}` < {lo!r} OR `{col}` > {hi!r} THEN 1 END)"
                f" AS __v{idx}__"
            )
        elif kind == "regex":
            pat = str(rule[2]).replace("'", "''")
            aggs.append(
                f"count(CASE WHEN NOT `{col}` RLIKE '{pat}' THEN 1 END) AS __v{idx}__"
            )
        elif kind == "accepted":
            vals = ", ".join(
                "'" + str(v).replace("'", "''") + "'" if isinstance(v, str) else repr(v)
                for v in rule[2]
            )
            aggs.append(
                f"count(CASE WHEN `{col}` NOT IN ({vals}) THEN 1 END) AS __v{idx}__"
            )
        else:
            raise ValueError(f"unknown rule kind {kind!r}")
        emits.append((kind, col, f"__v{idx}__"))
    wide = df.selectExpr(*aggs)
    stack = ", ".join(f"'{k}', '{c}', {v}" for k, c, v in emits)
    out = wide.selectExpr(
        f"stack({len(emits)}, {stack}) AS (rule, column_name, n_violations)",
        "__n__ AS n_checked",
    ).select("rule", "column_name", "n_checked", "n_violations")
    for col, dim, dim_col in fk_checks or []:
        orphans = (
            df.select(F.col(col))
            .where(F.col(col).isNotNull())
            .join(dim.select(F.col(dim_col).alias(col)).distinct(), on=col, how="left_anti")
        )
        fk_row = df.selectExpr("count(*) AS n_checked").crossJoin(
            orphans.selectExpr("count(*) AS n_violations")
        ).selectExpr(
            "'foreign_key' AS rule",
            f"'{col}' AS column_name",
            "n_checked",
            "n_violations",
        )
        out = out.unionByName(fk_row)
    return out


def winsorize(
    df: DataFrame,
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    by=None,
    out_name: str | None = None,
    exact: bool | None = None,
    accuracy: int = 10000,
) -> DataFrame:
    """Clip ``value_col`` to its [lo, hi] percentiles (optionally per
    ``by`` group) — the standard outlier-robust value treatment before
    training on numeric features. Adds ``{value_col}_winsorized``; NULL
    values stay NULL (greatest/least would silently coerce them to a
    bound — guarded).

    Scale: ONE aggregate computes both bounds, then the tiny bounds frame
    joins back — a 1-row broadcast cross join globally, an AQE-broadcast
    equi-join per group. The clip itself is a narrow codegen'd projection.
    ``exact=None`` (auto) uses the bounded-memory Greenwald-Khanna
    ``percentile_approx`` sketch — grouped or not. A ``by=`` key with a
    handful of huge groups (status codes, languages) has the same
    single-reducer buffer problem per group as the ungrouped call, so
    groupedness alone proves nothing about safety (plan_lint flags exact
    percentiles either way). ``exact=True`` routes through the
    distributed histogram percentile (:func:`grid_percentiles`) — exact,
    oracle-checkable, map-side-reduced and spillable, best when values
    live on a grid (prices, rounded scores).
    """
    out_name = out_name or f"{value_col}_winsorized"
    v = F.col(value_col)
    if exact is None:
        exact = False
    by = [by] if isinstance(by, str) else list(by or [])
    if exact:
        bounds = grid_percentiles(
            df, value_col, {"__lo__": float(lo), "__hi__": float(hi)}, by=by
        )
    else:
        bounds_aggs = [
            F.expr(
                f"CAST(percentile_approx(`{value_col}`, {float(lo)!r}D, "
                f"{int(accuracy)}) AS DOUBLE)"
            ).alias("__lo__"),
            F.expr(
                f"CAST(percentile_approx(`{value_col}`, {float(hi)!r}D, "
                f"{int(accuracy)}) AS DOUBLE)"
            ).alias("__hi__"),
        ]
        bounds = df.groupBy(*by).agg(*bounds_aggs) if by else df.agg(*bounds_aggs)
    if by:
        joined = df.join(F.broadcast(bounds), on=by)
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    clipped = F.when(
        v.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(v.cast("double"), F.col("__lo__")), F.col("__hi__")))
    return joined.withColumn(out_name, clipped).drop("__lo__", "__hi__")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col=None,
    threshold: float = 3.0,
    keep_cols=None,
    exact: bool | None = None,
    accuracy: int = 10000,
) -> DataFrame:
    """Rows whose ROBUST z-score — |x − median| / (1.4826·MAD), the
    consistency-scaled median-absolute-deviation — exceeds ``threshold``.
    The outlier-resistant twin of :func:`zscore_outliers`: one wild value
    cannot drag the center/scale the way it drags mean and stddev.
    Output: keep_cols + (group) + value + robust_z.

    Scale: two aggregation passes by construction (MAD needs the median
    first) — per-group median agg, broadcast join-back, per-group
    deviation-median agg, broadcast join-back, narrow filter. All four
    frames beyond the scans are group-cardinality small.

    Determinism: with ``exact`` medians (interpolated percentiles,
    engine-agreeing — see quantiles) robust_z computes in IEEE doubles
    with identical operation order in the oracle and rounds to 4 dp
    BEFORE the threshold compare, so the flag can't flip between engines.
    Zero-MAD groups (majority-constant values) emit no rows.

    ``exact=None`` (auto) = bounded-memory GK ``percentile_approx``
    medians, grouped or not — a low-cardinality ``group_col`` (priority
    band, language) buffers a giant group on one reducer exactly like the
    ungrouped call would, so groupedness is no safety proof (plan_lint
    flags exact percentiles either way). ``exact=True`` = distributed
    histogram medians (:func:`grid_percentiles`): exact, spillable,
    oracle-checkable — preferred when values live on a grid.
    """
    groups = (
        [group_col] if isinstance(group_col, str) else list(group_col or [])
    )
    keep_cols = list(keep_cols or [])
    v = F.col(value_col)
    base = df.where(v.isNotNull())
    if exact is None:
        exact = False

    def agg_back(frame, col_name, alias):
        if exact:
            # eager barrier (r9): the MAD pass's grid_percentiles
            # consumes its input ~5× with different pruning, and that
            # input embeds THIS stats frame's whole pipeline — without a
            # barrier the two chained grid passes compounded to 50
            # parquet scans in the measured plan. Bounded by group
            # cardinality; the join below broadcast-hints it explicitly
            # (a LogicalRDD has no size estimate).
            stats = grid_percentiles(
                frame, col_name, {alias: 0.5}, by=groups
            ).localCheckpoint(eager=True)
        else:
            med = F.expr(
                f"CAST(percentile_approx(`{col_name}`, 0.5D, {int(accuracy)}) "
                "AS DOUBLE)"
            ).alias(alias)
            stats = frame.groupBy(*groups).agg(med) if groups else frame.agg(med)
        if groups:
            return frame.join(F.broadcast(stats), on=groups)
        return frame.crossJoin(F.broadcast(stats))

    med = agg_back(base, value_col, "__med__")
    dev = med.withColumn("__dev__", F.abs(v.cast("double") - F.col("__med__")))
    mad = agg_back(dev, "__dev__", "__mad__")
    rz = fround(
        F.col("__dev__") / (F.lit(1.4826) * F.col("__mad__")), 4
    )
    return (
        mad.where(F.col("__mad__") > 0)
        .withColumn("robust_z", rz)
        .where(F.col("robust_z") > threshold)
        .select(
            *[F.col(c) for c in keep_cols],
            *[F.col(g) for g in groups],
            v.alias(value_col),
            F.col("robust_z"),
        )
    )


def standardize(
    df: DataFrame,
    value_cols,
    by=None,
    method: str = "zscore",
) -> DataFrame:
    """Feature scaling for ML-bound numeric columns: appends
    ``{col}_scaled`` per input column — z-score ``(x − mean)/stddev``
    (``method="zscore"``) or min-max ``(x − min)/(max − min)``
    (``method="minmax"``), optionally per ``by`` group.

    Scale: ALL columns' statistics compile into ONE aggregate over ONE
    scan (map-side partials), the tiny stats frame broadcast-joins back,
    and the scaling itself is a narrow codegen'd projection — adding
    columns never adds passes.

    Determinism: moments accumulate as DECIMAL (exact under any
    aggregation order — the zscore_outliers contract, |value| < 1e6);
    variance uses the fixed-order formula in doubles; scaled values round
    to 4 dp. Degenerate columns (zero variance / constant range) scale to
    NULL rather than ±inf.
    """
    if method not in ("zscore", "minmax"):
        raise ValueError("standardize: method must be 'zscore' or 'minmax'")
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    groups = [by] if isinstance(by, str) else list(by or [])

    aggs = []
    for i, c in enumerate(value_cols):
        v = F.col(c)
        if method == "zscore":
            aggs += [
                F.count(v).alias(f"__n{i}__"),
                F.sum(v.cast("decimal(18,6)")).alias(f"__s{i}__"),
                F.sum((v * v).cast("decimal(30,10)")).alias(f"__q{i}__"),
            ]
        else:
            aggs += [F.min(v).alias(f"__lo{i}__"), F.max(v).alias(f"__hi{i}__")]
    stats = df.groupBy(*[F.col(g) for g in groups]).agg(*aggs) if groups else df.agg(*aggs)
    joined = (
        df.join(F.broadcast(stats), on=groups)
        if groups
        else df.crossJoin(F.broadcast(stats))
    )
    out = joined
    for i, c in enumerate(value_cols):
        v = F.col(c)
        if method == "zscore":
            n = F.col(f"__n{i}__")
            s_d = F.col(f"__s{i}__").cast("double")
            q_d = F.col(f"__q{i}__").cast("double")
            mean = s_d / n
            var = (q_d - s_d * s_d / n) / (n - 1)
            scaled = F.when(
                (n > 1) & (var > 0), fround((v - mean) / F.sqrt(var), 4) + F.lit(0.0)
            )
        else:
            lo = F.col(f"__lo{i}__").cast("double")
            hi = F.col(f"__hi{i}__").cast("double")
            scaled = F.when(hi > lo, fround((v - lo) / (hi - lo), 4) + F.lit(0.0))
        out = out.withColumn(f"{c}_scaled", scaled)
    return out.drop(*[f.name for f in stats.schema.fields if f.name.startswith("__")])


def k_anonymity(
    df: DataFrame,
    quasi_cols,
    k: int = 5,
    sample_ids: str | None = None,
) -> DataFrame:
    """Privacy/governance gate: quasi-identifier combinations shared by
    FEWER than ``k`` rows (the k-anonymity violations — combinations that
    could single out individuals if this dataset were released). Output:
    quasi columns + ``group_size`` (+ ``example_id`` when ``sample_ids``
    names an id column), smallest groups first.

    Scale: one hash aggregate on the quasi columns (map-side partials),
    then a narrow ``HAVING count < k`` — violation cardinality is small
    by definition, so the result collects cheaply even on 100 TB.
    Deterministic: example_id is min(id), ordering has full tiebreaks.
    """
    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    aggs = [F.count(F.lit(1)).alias("group_size")]
    if sample_ids:
        aggs.append(F.min(F.col(sample_ids)).alias("example_id"))
    out = (
        df.groupBy(*[F.col(c) for c in quasi])
        .agg(*aggs)
        .where(F.col("group_size") < k)
    )
    return out.orderBy(F.col("group_size").asc(), *[F.col(c).asc() for c in quasi])


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    by=None,
    trim: float = 0.1,
) -> DataFrame:
    """Robust trimmed mean: the mean of values inside the
    [trim, 1−trim] interpolated-percentile bounds per group. Output:
    group cols + ``n_kept, lo_bound, hi_bound, trimmed_mean``.

    Scale: bounds come from :func:`grid_percentiles` (GK-bracketed exact
    refinement — no full-group sort), broadcast back; the mean is one
    narrow conditional aggregate in exact 1e-6-grid integer micro-units
    (DECIMAL(38) sums — order-independent), floor-rounded at 6 dp, so
    the oracle (quantile_cont bounds + the same integer sum) matches
    bit-for-bit.
    """
    from .dedup import fround

    by = [by] if isinstance(by, str) else list(by or [])
    if not 0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    v = F.col(value_col)
    base = df.where(v.isNotNull())
    bounds = grid_percentiles(
        base, value_col, {"lo_bound": trim, "hi_bound": 1.0 - trim}, by=by
    )
    j = (
        base.join(F.broadcast(bounds), on=by)
        if by
        else base.crossJoin(F.broadcast(bounds))
    )
    keep = (v.cast("double") >= F.col("lo_bound")) & (
        v.cast("double") <= F.col("hi_bound")
    )
    units = F.floor(v.cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    agg = j.groupBy(*by).agg(
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.max("lo_bound").alias("lo_bound"),
        F.max("hi_bound").alias("hi_bound"),
        F.sum(F.when(keep, units)).alias("__su__"),
    )
    return agg.select(
        *by,
        "n_kept",
        fround(F.col("lo_bound"), 6).alias("lo_bound"),
        fround(F.col("hi_bound"), 6).alias("hi_bound"),
        F.when(
            F.col("n_kept") > 0,
            fround(
                F.col("__su__").cast("double")
                / (F.col("n_kept").cast("double") * F.lit(1e6)),
                6,
            ),
        ).alias("trimmed_mean"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols,
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Privacy gate complementing :func:`k_anonymity` (Machanavajjhala
    et al. 2007): quasi-identifier groups whose SENSITIVE attribute has
    fewer than ``l`` distinct values — groups where re-identification
    also reveals the sensitive value. Output: quasi columns +
    ``group_size, n_sensitive, l_diverse`` for every violating group,
    smallest diversity first.

    Scale: one exact count-distinct aggregate over (quasi, sensitive) —
    two map-side-combined hash aggregates (the Expand-free two-level
    form: distinct pairs first, then counts), no buffers. Violations are
    small by definition.
    """
    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    pairs = (
        df.where(F.col(sensitive_col).isNotNull())
        .groupBy(*quasi, sensitive_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    out = (
        pairs.groupBy(*quasi)
        .agg(
            F.sum("__c__").cast("long").alias("group_size"),
            F.count(F.lit(1)).alias("n_sensitive"),
        )
        .where(F.col("n_sensitive") < l)
        .select(*quasi, "group_size", "n_sensitive", F.lit(False).alias("l_diverse"))
    )
    return out.orderBy(
        F.col("n_sensitive").asc(),
        F.col("group_size").asc(),
        *[F.col(c).asc() for c in quasi],
    )


def dp_count(
    df: DataFrame,
    group_cols,
    epsilon: float = 1.0,
    *,
    seed: str,
) -> DataFrame:
    """Per-group counts with seeded Laplace(1/epsilon) noise — the
    releasable-aggregate companion to :func:`k_anonymity`. Output:
    group columns + ``n_dp`` (noisy count, 4 dp); the TRUE count is
    deliberately not emitted.

    Noise is derived deterministically from md5(seed:group-key) via the
    inverse Laplace CDF (u uniform in (0,1) →
    ``-(1/ε)·sign(u-½)·ln(1-2|u-½|)``) — the repo's md5-not-RNG
    contract, so results are stable across runs/partitionings/engines and
    oracle-checkable. SECURITY: the release is EXACTLY INVERTIBLE by
    anyone holding the seed (recompute the noise, subtract) — that is
    why ``seed`` is REQUIRED with no default: treat it as a secret,
    never publish it alongside the release, and rotate it per release.
    Deterministic seeded noise gives the Laplace MECHANISM's utility
    profile for testing/pipelines, but formal DP requires fresh secret
    randomness per release and an external epsilon budget.

    Scale: one hash aggregate (map-side partials) + a narrow noise
    projection; never touches row data beyond the group keys.
    """
    from .dedup import md5_hash32

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not 0 < epsilon:
        raise ValueError("epsilon must be positive")
    counts = df.groupBy(*[F.col(c) for c in groups]).agg(
        F.count(F.lit(1)).alias("__n__")
    )
    key = F.concat_ws(
        ":", F.lit(seed), *[F.col(c).cast("string") for c in groups]
    )
    # u in (0,1): (h32 + 0.5) / 2^32 — never exactly 0, 0.5 or 1
    u = (md5_hash32(key) + F.lit(0.5)) / F.lit(4294967296.0)
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(1.0 / epsilon)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.select(
        *[F.col(c) for c in groups],
        fround(F.col("__n__") + noise, 4).alias("n_dp"),
    )


def _entropy_cube(df: DataFrame, col_x: str, col_y: str):
    """Shared core of mutual_information / v_measure: ONE groupBy(x,y)
    pair-count table, ONE cube over it, and a final aggregate yielding
    exact DECIMAL(38) log-micro-unit sums — __n__, __nln__ (n·L(n)),
    __sx__ (Σ c_x·L(c_x)), __sy__, __sxy__."""
    x, y = F.col(col_x), F.col(col_y)
    pairs = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(
            x.cast("string").alias("__x__"), y.cast("string").alias("__y__")
        )
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    levels = pairs.cube("__x__", "__y__").agg(F.sum("__c__").alias("__c__"))
    c = F.col("__c__")
    lmicro = F.floor(F.log(c.cast("double")) * F.lit(1000000.0) + F.lit(0.5))
    w = (c.cast("decimal(38,0)") * lmicro).alias("__w__")
    xn, yn = F.col("__x__").isNull(), F.col("__y__").isNull()
    terms = levels.select(xn.alias("__xn__"), yn.alias("__yn__"), c, w)
    return terms.groupBy().agg(
        F.max(F.when(F.col("__xn__") & F.col("__yn__"), c)).alias("__n__"),
        F.max(F.when(F.col("__xn__") & F.col("__yn__"), F.col("__w__"))).alias(
            "__nln__"
        ),
        F.sum(
            F.when(~F.col("__xn__") & F.col("__yn__"), F.col("__w__"))
        ).alias("__sx__"),
        F.sum(
            F.when(F.col("__xn__") & ~F.col("__yn__"), F.col("__w__"))
        ).alias("__sy__"),
        F.sum(
            F.when(~F.col("__xn__") & ~F.col("__yn__"), F.col("__w__"))
        ).alias("__sxy__"),
    )


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    the marginal and joint Shannon entropies — the corpus-diagnostics
    question "is lang independent of source?" / feature-selection MI.
    Output (one row): ``n, h_x, h_y, h_xy, mi`` with
    ``mi = h_x + h_y − h_xy`` (≥ 0 up to log-grid jitter of a few
    1e-6 — independent columns land within microunits of 0, not AT 0,
    because floor(ln·1e6) is not additive).

    Exactness: every entropy reduces to integer arithmetic over
    log-micro-units ``L(c) = floor(ln(c)·1e6 + 0.5)`` of integer counts
    (H_x·n·1e6 = n·L(n) − Σ c_x·L(c_x) — all DECIMAL(38,0) sums, order-
    independent), and the final values are DOUBLE quotients of exactly-
    represented operands, so both engines agree bit-for-bit with NO
    rounding site. ln() itself carries the documented tfidf-class 1-ulp
    libm risk, shrunk ~1e-9 by the micro-unit floor.

    Scale — ONE scan, ONE data shuffle: groupBy(x,y) with map-side
    combine produces the pair-count table (bounded by |X|·|Y|, not rows);
    a cube() over THAT table yields pair/marginal/total levels in a
    single small Expand, and the final aggregate classifies levels by
    rolled-up NULLs. No checkpoint, no join, no crossJoin.
    """
    g = _entropy_cube(df, col_x, col_y)
    den = (
        F.col("__n__").cast("decimal(38,0)") * F.lit(1000000).cast("decimal(38,0)")
    ).cast("double")
    nln, sx, sy, sxy = (
        F.col("__nln__"),
        F.col("__sx__"),
        F.col("__sy__"),
        F.col("__sxy__"),
    )
    return g.select(
        F.col("__n__").cast("long").alias("n"),
        ((nln - sx).cast("double") / den).alias("h_x"),
        ((nln - sy).cast("double") / den).alias("h_y"),
        ((nln - sxy).cast("double") / den).alias("h_xy"),
        ((nln + sxy - sx - sy).cast("double") / den).alias("mi"),
    )


def v_measure(df: DataFrame, class_col: str, cluster_col: str) -> DataFrame:
    """Homogeneity / completeness / V-measure (Rosenberg & Hirschberg
    2007) of a cluster assignment against reference classes — the
    standard external clustering-evaluation triple (e.g. "do my semantic-
    dedup clusters track document language?"). Output (one row):
    ``n, homogeneity, completeness, v_measure``.

    Identities (all from the one entropy cube): homogeneity =
    MI/H(class), completeness = MI/H(cluster), and the harmonic mean
    collapses to v = 2·MI/(H(class)+H(cluster)) — so every statistic is
    a ratio of exact DECIMAL(38) log-micro-unit sums (the
    mutual_information machinery; the common n·1e6 factor cancels),
    frounded at 6 dp from correctly-rounded casts + identical IEEE ops.
    MI's log-grid jitter is clipped at 0 from BELOW, so independent
    columns report within a few positive micro-units of 0 (the
    mutual_information contract: floor(ln·1e6) is not additive), never
    negative. Conventions follow sklearn: an entropy-0 side scores 1.0;
    both trivial → v = 1.0.

    Scale: identical to mutual_information — ONE scan, ONE bounded
    pair-count shuffle, one small Expand; no joins.
    """
    g = _entropy_cube(df, class_col, cluster_col)
    nln, sx, sy, sxy = (
        F.col("__nln__"),
        F.col("__sx__"),
        F.col("__sy__"),
        F.col("__sxy__"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    a = nln - sx           # H(class)·n·1e6, exact
    b = nln - sy           # H(cluster)·n·1e6, exact
    m = F.greatest(nln + sxy - sx - sy, zero)  # MI·n·1e6, jitter-clipped
    def ratio(num, den):
        return fround(num.cast("double") / den.cast("double"), 6)

    return g.select(
        F.col("__n__").cast("long").alias("n"),
        F.when(a > zero, ratio(m, a)).otherwise(F.lit(1.0)).alias("homogeneity"),
        F.when(b > zero, ratio(m, b)).otherwise(F.lit(1.0)).alias("completeness"),
        F.when(a + b > zero, ratio(F.lit(2).cast("decimal(38,0)") * m, a + b))
        .otherwise(F.lit(1.0))
        .alias("v_measure"),
    )


def gini(df: DataFrame, value_col: str, by=None) -> DataFrame:
    """Gini coefficient of ``value_col``'s distribution (0 = perfectly
    even, →1 = concentrated), optionally per ``by`` group — the
    inequality diagnostic for corpus composition: token mass per source,
    documents per domain, sample counts per class. Output: group cols +
    ``n, total, gini`` (NULL when the total is 0; intended for
    non-negative values — the standard economic definition).

    Identity (tie-correct, over the value HISTOGRAM): with distinct
    values v_j, counts c_j and ascending cumulative counts cum_j,
    G = [Σ_j v_j·c_j·(2·cum_j − c_j + 1) − (n+1)·Σ v·c] / (n·Σ v·c) —
    the average-rank form of G = Σ(2i−n−1)x_(i)/(n·Σx), so ties get the
    exact averaged rank.

    Scale/exactness: values snap to the integer cent grid; the corpus
    reduces to a value histogram (map-side combined), one running-count
    window over histogram rows builds cum, and every sum is exact
    DECIMAL(38) — the final quotient frounds at 6 dp from
    correctly-rounded casts, bit-identical in the oracle. Same
    histogram-cardinality caveat as :func:`spearman_corr`.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    hist = (
        df.where(v.isNotNull())
        .groupBy(
            *by,
            F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("long").alias("__cv__"),
        )
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    # two-phase distributed prefix sum over the cent-grid histogram —
    # never one per-group ordered window (single-task sort on
    # near-continuous values, the r5 spearman sf1 stall class)
    from .dedup import bucketed_running_sums

    d38 = "decimal(38,0)"
    cumf = bucketed_running_sums(hist, by, "__cv__", ["__c__"])
    cum = F.col("__cum0__")
    terms = cumf.select(
        *by,
        "__c__",
        "__cv__",
        (
            F.col("__cv__").cast(d38)
            * F.col("__c__")
            * (2 * cum - F.col("__c__") + 1)
        ).alias("__t__"),
        (F.col("__cv__").cast(d38) * F.col("__c__")).alias("__vc__"),
    )
    agg = terms.groupBy(*by).agg(
        F.sum("__c__").alias("n"),
        F.sum("__vc__").alias("__sv__"),
        F.sum("__t__").alias("__st__"),
    )
    n_d = F.col("n").cast(d38)
    num = F.col("__st__") - (n_d + 1) * F.col("__sv__")
    den = n_d * F.col("__sv__")
    return agg.select(
        *by,
        "n",
        (F.col("__sv__").cast("double") / F.lit(100.0)).alias("total"),
        F.when(
            F.col("__sv__") != 0,
            fround(num.cast("double") / den.cast("double"), 6),
        ).alias("gini"),
    )


def cramers_v(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Cramér's V association strength between two categorical columns —
    the [0,1]-normalized companion to :func:`mutual_information` (V=0
    independent, V=1 one column determines the other). Output (one row):
    ``n, n_x, n_y, chi2, cramers_v`` (NULL V when either column is
    constant).

    Identity: over OBSERVED cells only, χ² = Σ o²·n/(r_x·c_y) − n (the
    chi_square_drift collapse — zero cells contribute exactly the
    subtracted mass), V = sqrt(χ² / (n·min(n_x−1, n_y−1))).

    Scale/exactness: one groupBy(x,y) pair-count table (bounded by
    category-pair cardinality, map-side combined); marginals come from
    two windows over that bounded table, never the rows. Per-cell terms
    o²n/(r·c) are exact integer ratios in DECIMAL(38) snapped to a 1e-9
    BIGINT grid via correctly-rounded casts + identical IEEE ops
    (the average_precision pattern), so the sum is partition-order-exact
    and the oracle matches bit-for-bit.
    """
    x, y = F.col(col_x), F.col(col_y)
    pairs = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(
            x.cast("string").alias("__x__"), y.cast("string").alias("__y__")
        )
        .agg(F.count(F.lit(1)).alias("__o__"))
    )
    wx = Window.partitionBy("__x__")
    wy = Window.partitionBy("__y__")
    everything = Window.partitionBy()
    cells = pairs.select(
        "__o__",
        F.sum("__o__").over(wx).alias("__rx__"),
        F.sum("__o__").over(wy).alias("__cy__"),
        F.sum("__o__").over(everything).alias("__n__"),
    )
    d38 = "decimal(38,0)"
    num = F.col("__o__").cast(d38) * F.col("__o__") * F.col("__n__")
    den = F.col("__rx__").cast(d38) * F.col("__cy__")
    term = F.floor(num.cast("double") / den.cast("double") * F.lit(1e9)).cast(
        "long"
    )
    # distinct category counts come from the pair table, not the rows
    dims = pairs.agg(
        F.countDistinct("__x__").alias("n_x"),
        F.countDistinct("__y__").alias("n_y"),
    )
    # the term SUM is ~(χ²+n)·1e9 ≤ n·min(r,c)·1e9 — int64-unsafe, so it
    # accumulates in DECIMAL(38) (the binary_auc precedent)
    g = cells.agg(
        F.max("__n__").alias("n"), F.sum(term.cast(d38)).alias("__t__")
    ).crossJoin(F.broadcast(dims))
    chi2 = (
        F.col("__t__") - F.col("n").cast(d38) * F.lit(1000000000)
    ).cast("double") / F.lit(1e9)
    k = F.least(F.col("n_x") - 1, F.col("n_y") - 1)
    return g.select(
        F.col("n").cast("long").alias("n"),
        "n_x",
        "n_y",
        fround(chi2, 6).alias("chi2"),
        F.when(
            k > 0,
            fround(F.sqrt(chi2 / (F.col("n") * k).cast("double")), 6),
        ).alias("cramers_v"),
    )


def kendall_tau(
    df: DataFrame,
    col_x: str,
    col_y: str,
    by=None,
    max_cells: int = 4000,
) -> DataFrame:
    """Kendall rank correlation tau-b between two numeric columns,
    optionally per ``by`` group — the concordance statistic (P[agree] −
    P[disagree] over random pairs, tie-corrected): more robust than
    Spearman for small n / heavy ties, and the standard rank-agreement
    readout for "do two scorers order documents the same way". Output:
    group cols + ``n, kendall_tau`` (NULL when either column is constant).

    tau_b = (P − Q) / sqrt((n0 − n1)(n0 − n2)) with n0 = n(n−1)/2,
    n1/n2 = tied-pair counts per column, P/Q = concordant/discordant
    pair counts.

    Scale/exactness: rows reduce to the JOINT value-grid contingency
    table (one groupBy, map-side combined, bounded by grid cardinality
    — the spearman histogram contract squared); P and Q come from the
    CELL-pair self-join (bounded: cells², never rows²), all counts and
    products exact DECIMAL(38) integers; the final quotient is one
    fixed-order IEEE chain (sqrt·sqrt like spearman), frounded to 6 dp.
    ``max_cells`` guards the self-join the way bradley_terry guards its
    player collect: a near-continuous column pair must be quantized
    (``fround(col, k)``) first — raising beats silently launching a
    trillion-row join.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    x, y = F.col(col_x), F.col(col_y)
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *by, x.cast("double").alias("__x__"), y.cast("double").alias("__y__")
    )
    cells = base.groupBy(*by, "__x__", "__y__").agg(
        F.count(F.lit(1)).alias("__c__")
    )
    n_cells = cells.count()  # bounded-guard job (the bradley_terry contract)
    if n_cells > max_cells:
        raise ValueError(
            f"kendall_tau: {n_cells} joint value cells > max_cells="
            f"{max_cells}; quantize the columns (fround) before calling — "
            "the cell-pair join is quadratic in cells by design"
        )
    d38 = "decimal(38,0)"
    a = cells.select(
        *[F.col(c).alias(f"__g{i}__") for i, c in enumerate(by)],
        F.col("__x__").alias("__xa__"),
        F.col("__y__").alias("__ya__"),
        F.col("__c__").alias("__ca__"),
    )
    b = cells.select(
        *[F.col(c).alias(f"__g{i}__") for i, c in enumerate(by)],
        F.col("__x__").alias("__xb__"),
        F.col("__y__").alias("__yb__"),
        F.col("__c__").alias("__cb__"),
    )
    keys = [f"__g{i}__" for i in range(len(by))]
    from .dedup import null_safe_join

    pairs = null_safe_join(a, b, keys, broadcast=True).where(
        F.col("__xa__") < F.col("__xb__")
    )
    pq = pairs.groupBy(*keys).agg(
        F.sum(
            F.when(
                F.col("__ya__") < F.col("__yb__"),
                F.col("__ca__").cast(d38) * F.col("__cb__"),
            )
        ).alias("__p__"),
        F.sum(
            F.when(
                F.col("__ya__") > F.col("__yb__"),
                F.col("__ca__").cast(d38) * F.col("__cb__"),
            )
        ).alias("__q__"),
    )
    ties = cells.groupBy(*by).agg(F.count(F.lit(1)).alias("__ncell__"))
    tx = (
        base.groupBy(*by, "__x__")
        .agg(F.count(F.lit(1)).alias("__t__"))
        .groupBy(*by)
        .agg(
            F.sum(
                F.col("__t__").cast(d38) * (F.col("__t__") - 1)
            ).alias("__n1x2__")
        )
    )
    ty = (
        base.groupBy(*by, "__y__")
        .agg(F.count(F.lit(1)).alias("__t__"))
        .groupBy(*by)
        .agg(
            F.sum(
                F.col("__t__").cast(d38) * (F.col("__t__") - 1)
            ).alias("__n2x2__")
        )
    )
    nrow = base.groupBy(*by).agg(F.count(F.lit(1)).alias("n"))
    if keys:
        pq = pq.select(
            *[F.col(k).alias(c) for k, c in zip(keys, by)], "__p__", "__q__"
        )
        # tx/ty/pq are ONE ROW PER GROUP — broadcast hints keep the
        # null-safe helper-key joins off the SMJ path (the helper keys
        # are not grouping attrs, so the size estimator can't see how
        # small these frames are; see dedup.null_safe_join)
        joined = null_safe_join(
            null_safe_join(
                null_safe_join(nrow, tx, by, broadcast=True),
                ty,
                by,
                broadcast=True,
            ),
            pq,
            by,
            how="left",
            broadcast=True,
        )
    else:
        joined = nrow.crossJoin(tx).crossJoin(ty).crossJoin(F.broadcast(pq))
    n_d = F.col("n").cast(d38)
    n0x2 = n_d * (n_d - 1)  # 2*n0
    da = (n0x2 - F.col("__n1x2__")).cast("double")  # 2*(n0-n1)
    db = (n0x2 - F.col("__n2x2__")).cast("double")  # 2*(n0-n2)
    num = (
        F.coalesce(F.col("__p__"), F.lit(0).cast(d38))
        - F.coalesce(F.col("__q__"), F.lit(0).cast(d38))
    ).cast("double")
    # tau = (P-Q) / sqrt((n0-n1)(n0-n2)) = 2(P-Q) / (sqrt(2(n0-n1)) * sqrt(2(n0-n2)))
    return joined.select(
        *by,
        "n",
        F.when(
            (F.col("n") >= 2) & (da > 0) & (db > 0),
            fround(F.lit(2.0) * num / (F.sqrt(da) * F.sqrt(db)), 6),
        ).alias("kendall_tau"),
    )


def _tau_cross_block_counts(block_keys, ys):
    """(concordant, discordant) over pairs in DIFFERENT blocks, exact y
    comparisons, y-ties skipped — one Fenwick (BIT) pass over dense y
    ranks, O(k log k). ``block_keys`` must arrive sorted; pairs share
    the caller's guarantee that cross-block x is strictly ordered."""
    import numpy as np

    uniq, ranks = np.unique(ys, return_inverse=True)
    m = len(uniq)
    tree = [0] * (m + 1)

    def add(i):
        i += 1
        while i <= m:
            tree[i] += 1
            i += i & (-i)

    def prefix(i):  # count of added ranks <= i (0-based i; -1 -> 0)
        s = 0
        i += 1
        while i > 0:
            s += tree[i]
            i -= i & (-i)
        return s

    conc = disc = added = 0
    i, k = 0, len(block_keys)
    while i < k:
        j = i
        while j < k and block_keys[j] == block_keys[i]:
            j += 1
        for t in range(i, j):  # query BEFORE adding this block
            r = int(ranks[t])
            below = prefix(r - 1)
            conc += below
            disc += added - prefix(r)
        for t in range(i, j):
            add(int(ranks[t]))
        added += j - i
        i = j
    return conc, disc


def kendall_tau_continuous(
    df: DataFrame,
    col_x: str,
    col_y: str,
    by=None,
) -> DataFrame:
    """EXACT Kendall tau-b for NEAR-CONTINUOUS column pairs — the
    O(n log n)-per-bucket alternative to :func:`kendall_tau`, whose
    cell-pair join is quadratic in joint value cells and deliberately
    raises past ``max_cells`` (r5 verdict #8: degrade gracefully
    instead). Output and rounding are identical to kendall_tau.

    Pair decomposition (disjoint, exhaustive) over the data-independent
    :func:`~hashquery_spark.ops.dedup.monotone_value_bucket` grids of
    both columns (~2k buckets/dim):

    * C — different x-bucket AND different y-bucket: both orders are
      strict at bucket granularity, so concordant/discordant counts
      reduce to 2-D prefix sums with inclusion-exclusion over the
      BOUNDED dense (xbkt × ybkt) grid (≤ ~4M cells per group; every
      window is bounded by live buckets, never row count).
    * B — different x-bucket, same y-bucket: x strict by bucket order;
      exact y comparisons run in a per-(group, ybkt) Fenwick pass
      (applyInPandas over ~n/|buckets| rows, O(k log k)).
    * A — same x-bucket: exact local counts per (group, xbkt) with the
      same Fenwick machinery (equal-x pairs skip — the n1 tie term).

    Tie terms n1/n2 are exact per-value aggregates (the kendall_tau
    forms); all pair counts are exact integers (local Fenwick sums are
    python ints emitted as BIGINT — per-bucket pair counts stay under
    2^63 for buckets below ~4e9 rows; global sums are DECIMAL(38,0)).
    NaN values are excluded (exact comparisons and bucket order would
    disagree on NaN).

    Oracle note: DuckDB brute-forces the O(n²) pair join, so the entry
    query runs on a bounded sample — the op itself never materializes
    pairs."""
    import pandas as pd

    from .dedup import monotone_value_bucket, null_safe_join, reify_null_safe_keys

    by = [by] if isinstance(by, str) else list(by or [])
    x, y = F.col(col_x), F.col(col_y)
    xd, yd = x.cast("double"), y.cast("double")
    base = df.where(
        x.isNotNull() & y.isNotNull() & ~F.isnan(xd) & ~F.isnan(yd)
    ).select(*by, xd.alias("__x__"), yd.alias("__y__"))
    base, safe_by, _ = reify_null_safe_keys(base, by)
    base = base.select(
        "*",
        monotone_value_bucket(F.col("__x__")).alias("__xb__"),
        monotone_value_bucket(F.col("__y__")).alias("__yb__"),
    )
    # NINE differently-pruned consumers (tie aggs, grid, locals) — one
    # eager checkpoint of the narrow (keys, x, y, buckets) projection
    # beats nine pruned rescans of the raw table (the DSIR single-scan
    # precedent); working-set is O(n) doubles, the op's own state size
    base = base.localCheckpoint(eager=True)
    d38 = "decimal(38,0)"

    # ---- tie terms + n (the kendall_tau forms) -------------------------
    nrow = base.groupBy(*by).agg(F.count(F.lit(1)).alias("n"))
    tx = (
        base.groupBy(*by, "__x__")
        .agg(F.count(F.lit(1)).alias("__t__"))
        .groupBy(*by)
        .agg(F.sum(F.col("__t__").cast(d38) * (F.col("__t__") - 1)).alias("__n1x2__"))
    )
    ty = (
        base.groupBy(*by, "__y__")
        .agg(F.count(F.lit(1)).alias("__t__"))
        .groupBy(*by)
        .agg(F.sum(F.col("__t__").cast(d38) * (F.col("__t__") - 1)).alias("__n2x2__"))
    )

    # ---- C: cross-bucket-in-both-dims via dense 2-D prefix grid --------
    K = base.groupBy(*safe_by, "__xb__", "__yb__").agg(
        F.count(F.lit(1)).alias("__c__")
    )
    xs = K.select(*safe_by, "__xb__").distinct()
    ys_ = K.select(*safe_by, "__yb__").distinct()
    dense = (
        xs.join(ys_, on=list(safe_by))
        if safe_by
        # both sides bounded by live buckets (~2k) — broadcast NLJ
        else xs.crossJoin(F.broadcast(ys_))
    )
    dense = dense.join(
        K.select(*safe_by, "__xb__", "__yb__", "__c__"),
        on=list(safe_by) + ["__xb__", "__yb__"],
        how="left",
    ).withColumn("__c0__", F.coalesce(F.col("__c__"), F.lit(0)))
    w_rx = (
        Window.partitionBy(*safe_by, "__xb__")
        .orderBy("__yb__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ry = (
        Window.partitionBy(*safe_by, "__yb__")
        .orderBy("__xb__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dense = dense.select(
        "*",
        F.sum("__c0__").over(w_rx).alias("__rx__"),
        F.sum("__c0__").over(w_ry).alias("__ry__"),
    ).select(
        "*",
        F.sum("__rx__").over(w_ry).alias("__ccum__"),
    )
    rowtot = K.groupBy(*safe_by, "__xb__").agg(
        F.sum("__c__").alias("__rt__")
    )
    w_tx = (
        Window.partitionBy(*safe_by)
        .orderBy("__xb__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    rowtot = rowtot.select(
        *safe_by,
        "__xb__",
        F.coalesce(F.sum("__rt__").over(w_tx), F.lit(0)).alias("__txs__"),
    )
    cells = dense.where(F.col("__c__").isNotNull()).join(
        rowtot.select(*safe_by, "__xb__", "__txs__"),
        on=list(safe_by) + ["__xb__"],
    )
    cstrict = F.col("__ccum__") - F.col("__rx__") - F.col("__ry__") + F.col("__c0__")
    same_v_strict = F.col("__ry__") - F.col("__c0__")
    conc_c = F.col("__c0__").cast(d38) * cstrict
    disc_c = F.col("__c0__").cast(d38) * (
        F.col("__txs__") - cstrict - same_v_strict
    )
    c_parts = cells.select(
        *safe_by, conc_c.alias("__p__"), disc_c.alias("__q__")
    )

    # ---- A/B: exact local Fenwick passes -------------------------------
    base_types = {f.name: f.dataType.simpleString() for f in base.schema.fields}
    safe_schema = ", ".join(f"`{c}` {base_types[c]}" for c in safe_by)
    part_schema = (safe_schema + ", " if safe_schema else "") + "__p__ long, __q__ long"

    def make_local(block_col, sort_cols):
        def fn(pdf):
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
            conc, disc = _tau_cross_block_counts(
                pdf[block_col].to_numpy(), pdf["__y__"].to_numpy()
            )
            out = {c: [pdf[c].iloc[0]] for c in safe_by}
            out["__p__"] = [conc]
            out["__q__"] = [disc]
            return pd.DataFrame(out)

        return fn

    a_parts = base.groupBy(*safe_by, "__xb__").applyInPandas(
        make_local("__x__", ["__x__", "__y__"]), part_schema
    )
    b_parts = (
        base.groupBy(*safe_by, "__yb__").applyInPandas(
            make_local("__xb__", ["__xb__", "__y__"]), part_schema
        )
    )

    pq = (
        c_parts.unionByName(
            a_parts.select(
                *safe_by,
                F.col("__p__").cast(d38).alias("__p__"),
                F.col("__q__").cast(d38).alias("__q__"),
            )
        )
        .unionByName(
            b_parts.select(
                *safe_by,
                F.col("__p__").cast(d38).alias("__p__"),
                F.col("__q__").cast(d38).alias("__q__"),
            )
        )
        .groupBy(*safe_by)
        .agg(F.sum("__p__").alias("__p__"), F.sum("__q__").alias("__q__"))
    )
    # restore original by cols (safe_by may BE the by cols when they are
    # non-nullable — nothing to map then)
    needed = [c for c in by if c not in safe_by]
    if needed:
        key_map = base.select(*safe_by, *needed).distinct()
        pq = pq.join(F.broadcast(key_map), on=list(safe_by))
    if by:
        pq = pq.select(*by, "__p__", "__q__")
    else:
        pq = pq.select("__p__", "__q__")

    joined = null_safe_join(
        null_safe_join(
            null_safe_join(nrow, tx, by, broadcast=True),
            ty,
            by,
            broadcast=True,
        ),
        pq,
        by,
        how="left",
        broadcast=True,
    )
    n_d = F.col("n").cast(d38)
    n0x2 = n_d * (n_d - 1)
    da = (n0x2 - F.col("__n1x2__")).cast("double")
    db = (n0x2 - F.col("__n2x2__")).cast("double")
    num = (
        F.coalesce(F.col("__p__"), F.lit(0).cast(d38))
        - F.coalesce(F.col("__q__"), F.lit(0).cast(d38))
    ).cast("double")
    return joined.select(
        *by,
        "n",
        F.when(
            (F.col("n") >= 2) & (da > 0) & (db > 0),
            fround(F.lit(2.0) * num / (F.sqrt(da) * F.sqrt(db)), 6),
        ).alias("kendall_tau"),
    )


def spearman_corr(
    df: DataFrame, col_x: str, col_y: str, by=None, exact: bool = False
) -> DataFrame:
    """Spearman rank correlation between two numeric columns, optionally
    per ``by`` group — the monotone-association companion to Pearson
    ``func.corr`` (robust to outliers and nonlinear-but-monotone
    relationships; the standard "does quality score track human rating"
    statistic). Output: group cols + ``n, spearman_rho`` (NULL when
    either column is constant). Ties get AVERAGE ranks (the textbook
    tie-corrected rho = Pearson over average ranks — NOT the 6Σd²
    shortcut, which is tie-wrong).

    Scale/exactness: each column reduces to a value histogram (map-side
    combined, bounded by value-grid cardinality), a running-count window
    over histogram rows assigns tie-averaged 2× ranks (exact integers,
    the binary_auc doubling), and rows join their rank by value — rows
    never sort globally.

    ACCEPTED STRUCTURAL COST (r9, two measured negative results): at
    single-node sf10 this pipeline runs ~2.8× DuckDB's one in-memory
    rank window (12.9/14.0 s vs ~4.6 s). Both attempted alternatives
    lost — a fused raw-row repartition (r6: 2.89 vs 2.56 s at sf0.1)
    and a range-partitioned sort + Arrow numpy local-rank pass (r9:
    30.2 s at sf10). Two-phase distributed ranking inherently pays two
    histogram exchanges + a checkpoint where a shared-memory sort pays
    none; the design is for the cluster regime where no single-task sort
    can hold a group.

    ``exact``: the default (False) accumulates the Pearson-on-ranks sums
    in DOUBLE — ranks are exact integers, so only the accumulation can
    lose ulps (Σr² ~ 4n³ passes 2^53 around n≈130k rows/group; past that
    the last digits of rho can drift, which a 6-dp rank correlation
    tolerates). ``exact=True`` routes the sums through DECIMAL(38)
    integers — bit-exact at any n, measured ~45× the aggregation cost of
    the double path (the corr_matrix precedent) — and is what the
    cross-engine oracle pins. Both paths divide the numerator by
    sqrt(A)·sqrt(B) in fixed-order IEEE doubles and fround to 6 dp.

    Caveat for NEAR-CONTINUOUS columns: the rank histogram approaches
    row count when values are almost all distinct, so its per-group
    window approaches a per-group row sort and the rank table stops
    being broadcastable (AQE falls back to a shuffled join — correct,
    just not small). Spearman only needs ORDER, so quantize first
    (``fround(col, k)``) when the value grid is finer than the
    statistic warrants.
    """
    from .dedup import bucketed_running_sums, reify_null_safe_keys

    by = [by] if isinstance(by, str) else list(by or [])
    x, y = F.col(col_x), F.col(col_y)
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *by, x.cast("double").alias("__x__"), y.cast("double").alias("__y__")
    )
    # group on REIFIED null-safe keys (never-NULL primitives): the rank
    # join-back below then stays a plain equi-join on the rank table's
    # own grouping attributes — NULL groups survive AND the join-size
    # estimator stays sane (see reify_null_safe_keys)
    base, safe_by, _ = reify_null_safe_keys(base, by)

    # Fused single-join-back design (r8): rank x first, attach __rx__ to
    # rows with ONE equi-join (the rank table is eagerly checkpointed —
    # it feeds a pipeline whose histogram aggregate double-executes, the
    # kaplan_meier chained-consumer case — and AQE broadcasts it when
    # the x value grid is small), then the y HISTOGRAM CARRIES the
    # x-rank moments: groupBy(by, y) accumulates count, Σrx and Σrx² per
    # distinct y, so after ranking y every Pearson-on-ranks sum is a
    # histogram aggregate — Σry = Σ c·ry, Σry² = Σ c·ry², and crucially
    # Σrx·ry = Σ_y ry·(Σrx at that y). The second row-level join-back
    # and the full-row final aggregate of the r5-r7 form are gone
    # (measured: the base ⋈ ry shuffle join was the single largest
    # exchange at sf10 on a near-continuous y).
    hist_x = base.groupBy(*safe_by, F.col("__x__")).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    # The running count over a value histogram must NOT be one per-group
    # ordered window: on a near-continuous column the histogram
    # approaches row count and a single task buffers/sorts the whole
    # group (measured: the r5 sf1 bench stalled >15 min in exactly this
    # stage on 6M lineitem prices; the two-phase form runs wide + flat).
    cum_x = bucketed_running_sums(hist_x, safe_by, "__x__", ["__c__"])
    # tie run of c rows ending at cum: doubled average rank
    rx = cum_x.select(
        *safe_by,
        "__x__",
        (2 * F.col("__cum0__") - F.col("__c__") + 1).alias("__rx__"),
    ).localCheckpoint(eager=True)

    acc = "decimal(38,0)" if exact else "double"
    withrx = base.join(rx, on=safe_by + ["__x__"])
    rxa = F.col("__rx__").cast(acc)
    # by rides as a passenger key (1:1 with safe_by; non-nullable keys
    # pass through reify unchanged, so dedupe)
    ykeys = list(by) + [c for c in safe_by if c not in by]
    hist_y = withrx.groupBy(*ykeys, F.col("__y__")).agg(
        F.count(F.lit(1)).alias("__c__"),
        F.sum(rxa).alias("__mx1__"),
        F.sum(rxa * F.col("__rx__")).alias("__mx2__"),
    ).localCheckpoint(eager=True)
    # ^ the y histogram feeds brs's two differently-pruned consumers;
    # unlike the plain-count case (where the double scan is cheaper),
    # THIS histogram's upstream includes the rx join and three
    # accumulators — re-executing it cost 17.4 s vs 12.8 s checkpointed
    # at sf10 (measured r8, the kaplan_meier chained-consumer class).
    cum_y = bucketed_running_sums(
        # "auto" (r8 ADVICE): one bounded count over the checkpointed
        # histogram proves groups × buckets small before broadcasting —
        # an arbitrary-cardinality `by` must not force a huge broadcast
        hist_y, safe_by, "__y__", ["__c__"], broadcast_offsets="auto"
    )
    ranked = cum_y.withColumn(
        "__ry__", 2 * F.col("__cum0__") - F.col("__c__") + 1
    )
    rya = F.col("__ry__").cast(acc)
    ca = F.col("__c__").cast(acc)
    agg = ranked.groupBy(*by).agg(
        F.sum("__c__").cast("long").alias("n"),
        F.sum(F.col("__mx1__")).alias("__sx__"),
        F.sum(ca * F.col("__ry__")).alias("__sy__"),
        F.sum(rya * F.col("__mx1__")).alias("__sxy__"),
        F.sum(F.col("__mx2__")).alias("__sxx__"),
        F.sum(ca * F.col("__ry__") * F.col("__ry__")).alias("__syy__"),
    )
    n_d = F.col("n").cast(acc)
    num = n_d * F.col("__sxy__") - F.col("__sx__") * F.col("__sy__")
    a = n_d * F.col("__sxx__") - F.col("__sx__") * F.col("__sx__")
    b = n_d * F.col("__syy__") - F.col("__sy__") * F.col("__sy__")
    den = F.sqrt(a.cast("double")) * F.sqrt(b.cast("double"))
    return agg.select(
        *by,
        "n",
        F.when(
            (a > 0) & (b > 0), fround(num.cast("double") / den, 6)
        ).alias("spearman_rho"),
    )


def ks_test(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    ``col`` distributions of two frames — the nonparametric companion to
    :func:`distribution_drift` (no binning, no range parameters).
    Output (one row): ``n_a, n_b, d_num, ks_d`` where
    ``ks_d = d_num/(n_a·n_b) = sup_x |F_a(x) − F_b(x)|`` and ``d_num =
    max |cumA·n_b − cumB·n_a|`` is an exact integer (BIGINT — int64-safe
    to ~3e9 rows per side, the cohens_kappa caveat).

    Scale — the ECDF prefix sums NEVER run through one global window:
    values group to a distinct-value count table (one shuffle, map-side
    combined), then the pack_sequences two-phase prefix sum applies with
    a MONOTONE bucket key (sign-folded octave of the value: any weakly
    monotone bucketing is correct since bucket ids cancel out of the
    global cumulative counts): per-bucket windows run ~2k-way parallel
    and only the tiny bucket-total frame sees an unpartitioned window.
    The final max is one global aggregate. Cross-engine: pure integer
    arithmetic until the last division, which divides two exactly-
    represented doubles — bit-identical, no rounding site (ks_d is the
    correctly-rounded double of an exact rational).
    """
    v = F.col(col).cast("double")
    u = df_a.where(v.isNotNull()).select(
        v.alias("__v__"), F.lit(1).alias("__sa__"), F.lit(0).alias("__sb__")
    ).unionAll(
        df_b.where(v.isNotNull()).select(
            v.alias("__v__"), F.lit(0).alias("__sa__"), F.lit(1).alias("__sb__")
        )
    )
    counts = u.groupBy("__v__").agg(
        F.sum("__sa__").cast("long").alias("__ca__"),
        F.sum("__sb__").cast("long").alias("__cb__"),
    )
    # weakly monotone, data-independent bucket: sign-folded octave.
    # floor(log2|v|) spans [-1075, 1024], so ±2000 offsets keep the
    # positive range (≥ 925), zero (0) and the negative range (≤ -925)
    # strictly separated and ordered.
    av = F.abs(F.col("__v__"))
    bkt = (
        F.when(F.col("__v__") > 0, F.lit(2000) + F.floor(F.log2(av)))
        .when(F.col("__v__") < 0, F.lit(-2000) - F.floor(F.log2(av)))
        .otherwise(F.lit(0))
        .cast("long")
    )
    bucketed = counts.withColumn("__bkt__", bkt)
    w_in = (
        Window.partitionBy("__bkt__")
        .orderBy("__v__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.select(
        "__bkt__",
        "__v__",
        F.sum("__ca__").over(w_in).alias("__cuma__"),
        F.sum("__cb__").over(w_in).alias("__cumb__"),
    )
    btot = bucketed.groupBy("__bkt__").agg(
        F.sum("__ca__").alias("__ba__"), F.sum("__cb__").alias("__bb__")
    )
    prior = Window.orderBy("__bkt__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    whole = Window.orderBy("__bkt__").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = btot.select(
        "__bkt__",
        F.coalesce(F.sum("__ba__").over(prior), F.lit(0)).alias("__basea__"),
        F.coalesce(F.sum("__bb__").over(prior), F.lit(0)).alias("__baseb__"),
        F.sum("__ba__").over(whole).alias("__na__"),
        F.sum("__bb__").over(whole).alias("__nb__"),
    )
    fa = F.col("__basea__") + F.col("__cuma__")
    fb = F.col("__baseb__") + F.col("__cumb__")
    diff = F.abs(
        fa.cast("decimal(38,0)") * F.col("__nb__")
        - fb.cast("decimal(38,0)") * F.col("__na__")
    )
    g = (
        cum.join(F.broadcast(offsets), on="__bkt__")
        .groupBy()
        .agg(
            F.max("__na__").alias("__na__"),
            F.max("__nb__").alias("__nb__"),
            F.max(diff).alias("__dnum__"),
        )
    )
    return g.select(
        F.col("__na__").cast("long").alias("n_a"),
        F.col("__nb__").cast("long").alias("n_b"),
        F.col("__dnum__").cast("long").alias("d_num"),
        (
            F.col("__dnum__").cast("double")
            / (
                F.col("__na__").cast("decimal(38,0)") * F.col("__nb__")
            ).cast("double")
        ).alias("ks_d"),
    )


def wasserstein_1d(
    df_a: DataFrame, df_b: DataFrame, col: str, grid: float = 1e6
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between the
    ``col`` distributions of two frames — the drift statistic that
    weighs HOW FAR mass moved, completing the family (PSI = binned,
    :func:`ks_test` = sup-norm, this = transport cost). Output (one
    row): ``n_a, n_b, w1`` where
    ``w1 = ∫|F_a − F_b| dx = Σ_i |F_a(v_i) − F_b(v_i)| · (v_{i+1} − v_i)``
    over consecutive distinct values.

    Exactness: values snap to the ``grid`` integer lattice (micro-units
    by default) so every gap is an exact integer; each term
    ``|cumA·n_b − cumB·n_a| · gap`` is an exact DECIMAL(38) integer
    (order-independent sum), and the single final division of exact
    integers is correctly rounded — bit-identical cross-engine, no
    rounding site.

    Scale: the ks_test machinery — distinct-value counts (one map-side
    combined shuffle), two-phase prefix sums over monotone octave
    buckets (per-bucket windows run wide; only the bounded bucket-total
    frame sees an unpartitioned window). The next-distinct-value lead
    runs in the SAME per-bucket window; bucket-boundary rows take the
    next bucket's minimum from the bounded frame. Caveat: snapped
    values beyond ±2^53/grid lose octave-bucket distinctness (not a
    concern on micro-unit business data)."""
    v = F.col(col).cast("double")
    _gr = repr(float(grid))
    _glit = _gr + "e0" if "e" not in _gr else f"CAST({_gr} AS DOUBLE)"

    def side(df, ca, cb):
        return df.where(v.isNotNull()).selectExpr(
            f"CAST(floor(CAST(`{col}` AS DOUBLE) * {_glit} + 0.5e0) "
            "AS BIGINT) AS __v__",
            f"{ca} AS __sa__",
            f"{cb} AS __sb__",
        )

    u = side(df_a, 1, 0).unionAll(side(df_b, 0, 1))
    counts = u.groupBy("__v__").agg(
        F.sum("__sa__").cast("long").alias("__ca__"),
        F.sum("__sb__").cast("long").alias("__cb__"),
    )
    from .dedup import monotone_value_bucket

    bucketed = counts.withColumn(
        "__bkt__", monotone_value_bucket(F.col("__v__").cast("double"))
    )
    w_in = (
        Window.partitionBy("__bkt__")
        .orderBy("__v__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("__bkt__").orderBy("__v__")
    cum = bucketed.select(
        "__bkt__",
        "__v__",
        F.sum("__ca__").over(w_in).alias("__cuma__"),
        F.sum("__cb__").over(w_in).alias("__cumb__"),
        F.lead("__v__").over(w_lead).alias("__lead__"),
    )
    btot = bucketed.groupBy("__bkt__").agg(
        F.sum("__ca__").alias("__ba__"),
        F.sum("__cb__").alias("__bb__"),
        F.min("__v__").alias("__bminv__"),
    )
    prior = Window.orderBy("__bkt__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    whole = Window.orderBy("__bkt__").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nxt_bucket = Window.orderBy("__bkt__")
    offsets = btot.select(
        "__bkt__",
        F.coalesce(F.sum("__ba__").over(prior), F.lit(0)).alias("__basea__"),
        F.coalesce(F.sum("__bb__").over(prior), F.lit(0)).alias("__baseb__"),
        F.sum("__ba__").over(whole).alias("__na__"),
        F.sum("__bb__").over(whole).alias("__nb__"),
        F.lead("__bminv__").over(nxt_bucket).alias("__nextbmin__"),
    )
    fa = F.col("__basea__") + F.col("__cuma__")
    fb = F.col("__baseb__") + F.col("__cumb__")
    nxt = F.coalesce(F.col("__lead__"), F.col("__nextbmin__"))
    term = (
        F.abs(
            fa.cast("decimal(38,0)") * F.col("__nb__")
            - fb.cast("decimal(38,0)") * F.col("__na__")
        )
        * (nxt - F.col("__v__"))
    )
    g = (
        cum.join(F.broadcast(offsets), on="__bkt__")
        .where(nxt.isNotNull())
        .groupBy()
        .agg(
            F.max("__na__").alias("__na__"),
            F.max("__nb__").alias("__nb__"),
            F.coalesce(F.sum(term), F.lit(0).cast("decimal(38,0)")).alias(
                "__s__"
            ),
        )
    )
    # fewer than 2 distinct values (or an empty side) leaves no gap
    # terms — return ZERO rows, exactly like the oracle's GROUP BY over
    # an empty term set (a 1-row NULL output would be a latent parity
    # break of the conformal-interval class)
    return g.where(
        (F.col("__na__") > 0) & (F.col("__nb__") > 0)
    ).selectExpr(
        "CAST(__na__ AS BIGINT) AS n_a",
        "CAST(__nb__ AS BIGINT) AS n_b",
        "CAST(__s__ AS DOUBLE) / (CAST(__na__ AS DOUBLE) * "
        f"CAST(__nb__ AS DOUBLE) * {_glit}) AS w1",
    )


def chi_square_drift(
    df_a: DataFrame, df_b: DataFrame, col: str
) -> DataFrame:
    """Pearson chi-square homogeneity test between the CATEGORICAL
    ``col`` distributions of two frames — completing the drift family
    (PSI :func:`distribution_drift` = binned numeric, :func:`ks_test` =
    continuous, this = categorical). Output (one row): ``n_a, n_b,
    n_categories, dof, chi2``.

    Identity: for the 2×C homogeneity table the per-category cell terms
    collapse to ``chi2 = Σ_j d_j² / (n_a·n_b·c_j)`` with
    ``d_j = o_aj·n_b − o_bj·n_a`` and ``c_j = o_aj + o_bj`` — one exact
    integer numerator per category. Each term floors onto a 1e-8 grid
    (integer micro-sums, order-independent; the calibration_bins ECE
    pattern) so chi2 is deterministic cross-engine; d_j² runs in
    DECIMAL(38,0) (int64-unsafe past ~3e9 rows/side, the cohens_kappa
    caveat) and the DECIMAL→DOUBLE casts are correctly rounded in both
    engines.

    Scale: ONE scan of the tagged union → one groupBy(category) with
    map-side combine (bounded by category cardinality); the totals ride
    an unpartitioned window over that tiny frame.
    """
    v = F.col(col)
    u = df_a.where(v.isNotNull()).select(
        v.cast("string").alias("__v__"),
        F.lit(1).alias("__sa__"),
        F.lit(0).alias("__sb__"),
    ).unionAll(
        df_b.where(v.isNotNull()).select(
            v.cast("string").alias("__v__"),
            F.lit(0).alias("__sa__"),
            F.lit(1).alias("__sb__"),
        )
    )
    counts = u.groupBy("__v__").agg(
        F.sum("__sa__").cast("long").alias("__oa__"),
        F.sum("__sb__").cast("long").alias("__ob__"),
    )
    everything = Window.partitionBy()
    with_tot = counts.select(
        "__oa__",
        "__ob__",
        F.sum("__oa__").over(everything).alias("__na__"),
        F.sum("__ob__").over(everything).alias("__nb__"),
    )
    d = (
        F.col("__oa__").cast("decimal(38,0)") * F.col("__nb__")
        - F.col("__ob__").cast("decimal(38,0)") * F.col("__na__")
    )
    den = (
        F.col("__na__").cast("decimal(38,0)")
        * F.col("__nb__")
        * (F.col("__oa__") + F.col("__ob__"))
    )
    term8 = F.floor(
        (d * d).cast("double") / den.cast("double") * F.lit(1e8) + F.lit(0.5)
    ).cast("long")
    g = with_tot.select(
        "__na__", "__nb__", term8.alias("__t8__")
    ).groupBy().agg(
        F.max("__na__").alias("n_a"),
        F.max("__nb__").alias("n_b"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("__t8__").alias("__chi8__"),
    )
    return g.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("n_categories").cast("long"),
        (F.col("n_categories") - 1).cast("long").alias("dof"),
        (F.col("__chi8__").cast("double") / F.lit(1e8)).alias("chi2"),
    )


def k_suppress(df: DataFrame, quasi_cols, k: int = 5) -> DataFrame:
    """ENFORCE k-anonymity by suppression: drop every row whose
    quasi-identifier combination occurs fewer than ``k`` times — the
    release step after :func:`k_anonymity` reports violations (Sweeney
    2002; suppression is the baseline mechanism, generalization is data-
    specific). Returns the input columns unchanged, minus suppressed
    rows; NULL quasi values form their own group (standard).

    Scale: one window COUNT partitioned by the quasi columns — a single
    shuffle on the quasi key with no join-back; group sizes are exactly
    what k-anonymity is about, so the window partition is the unit of
    privacy and cannot be avoided (and never sorts — count only).
    """
    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(*[F.col(c) for c in quasi])
    return (
        df.withColumn("__gn__", F.count(F.lit(1)).over(w))
        .where(F.col("__gn__") >= k)
        .drop("__gn__")
    )


def dp_sum(
    df: DataFrame,
    value_col: str,
    group_cols,
    clip: float,
    epsilon: float = 1.0,
    *,
    seed: str,
) -> DataFrame:
    """Per-group CLIPPED sums with seeded Laplace(clip/epsilon) noise —
    the bounded-sensitivity companion to :func:`dp_count` (values clamp
    to [0, clip], so one individual moves the sum by at most ``clip``).
    Output: group columns + ``sum_dp`` (4 dp); the true sum is not
    emitted. Same md5-not-RNG contract, and the same SECURITY contract:
    the release is exactly invertible by anyone holding the seed, so
    ``seed`` is required with no default — keep it secret, rotate per
    release (see :func:`dp_count`).

    Exactness: clipped values land on an integer CENT grid
    (``floor(v·100 + 0.5)``, DECIMAL(38,0) sums — order-independent),
    and the noise is the same deterministic inverse-CDF draw, so the
    oracle reproduces the release bit-for-bit.
    """
    from .dedup import md5_hash32

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not 0 < epsilon:
        raise ValueError("epsilon must be positive")
    clip = float(clip)
    if not clip > 0:
        raise ValueError("clip must be positive")
    v = F.col(value_col).cast("double")
    clipped = F.greatest(F.lit(0.0), F.least(F.lit(clip), v))
    cents = F.floor(clipped * F.lit(100.0) + F.lit(0.5)).cast("decimal(38,0)")
    sums = (
        df.where(v.isNotNull())
        .groupBy(*[F.col(c) for c in groups])
        .agg(F.sum(cents).alias("__s__"))
    )
    key = F.concat_ws(
        ":", F.lit(seed), *[F.col(c).cast("string") for c in groups]
    )
    u = (md5_hash32(key) + F.lit(0.5)) / F.lit(4294967296.0)
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(clip / epsilon)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return sums.select(
        *[F.col(c) for c in groups],
        fround(
            F.col("__s__").cast("double") / F.lit(100.0) + noise, 4
        ).alias("sum_dp"),
    )


def quantile_bucketize(
    df: DataFrame,
    value_col: str,
    k: int = 4,
    by=None,
    out_name: str | None = None,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Equal-frequency discretizer: adds ``{value_col}_bucket`` in
    0..k-1 — the feature-engineering staple (quartile/decile features,
    monotone binning for drift monitors). Bucket = the number of the
    k−1 interior exact percentile bounds strictly below the value, so
    ties at a bound all land in the SAME bucket (deterministic, unlike
    rank-based ntile which splits ties arbitrarily); NULLs stay NULL.

    ``exact=True`` (default) computes bounds via
    :func:`grid_percentiles` — distributed, bounded-memory, and
    bit-identical to DuckDB quantile_cont, so the whole bucketing is
    oracle-checkable. Scale: the bounds frame is tiny (one row per
    group) and broadcast back; the bucket expression is one narrow
    codegen'd projection (k−1 comparisons).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    out_name = out_name or f"{value_col}_bucket"
    by = [by] if isinstance(by, str) else list(by or [])
    qs = {f"__b{i}__": i / k for i in range(1, k)}
    if exact:
        bounds = grid_percentiles(df, value_col, qs, by=by, accuracy=accuracy)
    else:
        aggs = [
            F.expr(
                f"CAST(percentile_approx(`{value_col}`, {p!r}D, "
                f"{int(accuracy)}) AS DOUBLE)"
            ).alias(name)
            for name, p in qs.items()
        ]
        bounds = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)
    joined = (
        df.join(F.broadcast(bounds), on=by)
        if by
        else df.crossJoin(F.broadcast(bounds))
    )
    v = F.col(value_col).cast("double")
    bucket = F.lit(0)
    for i in range(1, k):
        bucket = bucket + F.when(v > F.col(f"__b{i}__"), 1).otherwise(0)
    return joined.withColumn(
        out_name,
        F.when(v.isNotNull(), bucket.cast("int")),
    ).drop(*qs.keys())


def js_divergence(
    df_a: DataFrame, df_b: DataFrame, col: str
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between the categorical ``col``
    distributions of two frames — the BOUNDED symmetric drift measure
    (0 ≤ JSD ≤ ln 2; PSI is unbounded, KL asymmetric/infinite on
    disjoint support — JSD is what mixture dashboards plot). Output (one
    row): ``n_a, n_b, n_categories, jsd``.

    Exactness: with integer counts a_j, b_j and D_j = a_j·n_b + b_j·n_a,
    the per-category ratios reduce to integers —
    p_j/m_j = 2·a_j·n_b / D_j — so each log lands on the integer
    micro-unit grid (Lm(x) = floor(ln(x)·1e6 + 0.5), arguments ≤ ~1e12
    stay exact doubles) and
    ``jsd = (SA/n_a + SB/n_b) / (2·1e6)`` with
    SA = Σ a_j·(Lm(2·a_j·n_b) − Lm(D_j)) an order-independent
    DECIMAL(38,0) sum — a fixed chain of exact-rational double ops, no
    rounding site (zero-count categories contribute 0, the 0·ln 0
    convention).

    Scale: the chi_square_drift skeleton — one tagged-union scan, one
    groupBy(category) with map-side combine, totals via a window over
    the category-bounded frame.
    """
    v = F.col(col)
    u = df_a.where(v.isNotNull()).select(
        v.cast("string").alias("__v__"),
        F.lit(1).alias("__sa__"),
        F.lit(0).alias("__sb__"),
    ).unionAll(
        df_b.where(v.isNotNull()).select(
            v.cast("string").alias("__v__"),
            F.lit(0).alias("__sa__"),
            F.lit(1).alias("__sb__"),
        )
    )
    counts = u.groupBy("__v__").agg(
        F.sum("__sa__").cast("long").alias("__a__"),
        F.sum("__sb__").cast("long").alias("__b__"),
    )
    everything = Window.partitionBy()
    with_tot = counts.select(
        "__a__",
        "__b__",
        F.sum("__a__").over(everything).alias("__na__"),
        F.sum("__b__").over(everything).alias("__nb__"),
    )
    lm = lambda x: F.floor(  # noqa: E731
        F.log(x.cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    # ln-argument products in DECIMAL, not BIGINT: with corpus totals
    # ~1e12 and a hot-category count ~1e7, a*nb exceeds int64 — ANSI mode
    # errors, non-ANSI silently wraps (r4 advice). DECIMAL(19)x(19) is
    # exact in both engines; the double conversion feeding ln() is then
    # the identical correctly-rounded value on both sides.
    a19 = F.col("__a__").cast("decimal(19,0)")
    b19 = F.col("__b__").cast("decimal(19,0)")
    na19 = F.col("__na__").cast("decimal(19,0)")
    nb19 = F.col("__nb__").cast("decimal(19,0)")
    d = a19 * nb19 + b19 * na19
    ta = F.when(
        F.col("__a__") > 0,
        F.col("__a__").cast("decimal(38,0)")
        * (lm(F.lit(2).cast("decimal(19,0)") * a19 * nb19) - lm(d)),
    )
    tb = F.when(
        F.col("__b__") > 0,
        F.col("__b__").cast("decimal(38,0)")
        * (lm(F.lit(2).cast("decimal(19,0)") * b19 * na19) - lm(d)),
    )
    g = with_tot.select(
        "__na__", "__nb__", ta.alias("__ta__"), tb.alias("__tb__")
    ).groupBy().agg(
        F.max("__na__").alias("n_a"),
        F.max("__nb__").alias("n_b"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("__ta__").alias("__sa2__"),
        F.sum("__tb__").alias("__sb2__"),
    )
    return g.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("n_categories").cast("long"),
        (
            (
                F.coalesce(F.col("__sa2__"), F.lit(0).cast("decimal(38,0)")).cast("double")
                / F.col("n_a").cast("double")
                + F.coalesce(F.col("__sb2__"), F.lit(0).cast("decimal(38,0)")).cast("double")
                / F.col("n_b").cast("double")
            )
            / F.lit(2000000.0)
        ).alias("jsd"),
    )


def t_closeness(
    df: DataFrame,
    quasi_cols,
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """The third rung of the re-identification ladder after
    :func:`k_anonymity` and :func:`l_diversity` (Li et al. 2007): a
    quasi-identifier group leaks when the DISTRIBUTION of its sensitive
    attribute strays from the global one, even if it is k-anonymous and
    l-diverse. Output: quasi cols + ``group_size, tv_distance,
    t_close`` for EVERY group, with tv_distance the total-variation
    distance (the categorical-attribute EMD) between the group's and
    the global sensitive distribution.

    Exactness: TV = SUM_v |c_gv·N − c_v·n_g| / (2·n_g·N) plus the
    absent-value mass n_g·(N − SUM_present c_v) — all products in
    DECIMAL(38,0), so tv_distance is a pure integer ratio on the
    tie-proof grid.

    Scale: one groupBy(quasi, sensitive) over the corpus; everything
    after runs on that bounded pair table (localCheckpointed — three
    differently-pruned consumers, the measured no-ReusedExchange trap).
    The 1-row N frame rides a broadcast crossJoin.
    """
    from .dedup import round4_ratio

    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    pairs = (
        df.where(F.col(sensitive_col).isNotNull())
        .groupBy(*quasi, sensitive_col)
        .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("__c__"))
        .localCheckpoint(eager=True)
    )
    glob = pairs.groupBy(sensitive_col).agg(
        F.sum("__c__").cast("decimal(19,0)").alias("__cv__")
    )
    total = glob.agg(F.sum("__cv__").cast("decimal(19,0)").alias("__N__"))
    ng = pairs.groupBy(*quasi).agg(F.sum("__c__").cast("decimal(19,0)").alias("__ng__"))
    enriched = (
        pairs.join(glob, on=sensitive_col)
        .join(ng, on=quasi)
        .crossJoin(F.broadcast(total))
    )
    agg = enriched.groupBy(*quasi).agg(
        F.max("__ng__").alias("__ng2__"),
        F.max("__N__").alias("__N2__"),
        F.sum(
            F.abs(
                F.col("__c__").cast("decimal(38,0)") * F.col("__N__")
                - F.col("__cv__").cast("decimal(38,0)") * F.col("__ng__")
            )
        ).alias("__present__"),
        F.sum(F.col("__cv__").cast("decimal(38,0)")).alias("__sp__"),
    )
    num = F.col("__present__") + F.col("__ng2__").cast("decimal(38,0)") * (
        F.col("__N2__") - F.col("__sp__")
    )
    den = F.lit(2).cast("decimal(19,0)") * F.col("__ng2__") * F.col("__N2__")
    tv = round4_ratio(num.cast("double"), den.cast("double"))
    return agg.select(
        *quasi,
        F.col("__ng2__").cast("long").alias("group_size"),
        tv.alias("tv_distance"),
        (tv <= F.lit(float(t))).alias("t_close"),
    )


def corr_matrix(
    df: DataFrame, cols, grid: float = 1e6, exact: bool = False
) -> DataFrame:
    """(col_x, col_y, n, corr) for every unordered column pair — the
    numeric-profile correlation matrix (feature redundancy / leakage
    screen) in ONE aggregate pass over the table. Pairwise-complete
    observations (rows where both sides are non-NULL).

    The default is plain double accumulators — the fast path a profiling
    caller wants at 100 TB. ``exact=True`` switches to cross-engine-exact
    DECIMAL accumulators (bit-identical to the DuckDB oracle, used by the
    oracle-paired entry query) at a measured ~45x aggregation cost at
    sf0.1 (2.6 s vs 0.06 s — JVM BigDecimal aggregation is the entire
    gap). Opt into ``exact=True`` only when you need reproducibility
    down to the last ulp across engines/partitionings; double sums are
    still deterministic for a FIXED partitioning and within ~1e-12
    relative of the exact answer on sane data.

    Exactness: values snap to the integer ``grid``; per-pair
    (n, Sx, Sy, Qxx, Qyy, Qxy) are exact DECIMAL sums, so Pearson r is
    a fixed-order IEEE chain over exact integers, snapped with
    fround(6) (NULL when n < 2 or either variance is 0).

    Scale: one scan, one 1-row aggregate (k(k-1)/2 * 6 accumulators,
    map-side combined) — the whole agg is rendered as ONE selectExpr
    block (per-Column py4j round-trips cost ~0.5 s per 16-expression
    block, measured). The stack to rows happens on the 1-row frame.
    """
    from .dedup import fround

    cols = list(cols)
    # hoist the micro-unit snap into ONE projection (k floor-chains per
    # row, not 6·k(k-1)/2): separate aggregate expressions don't share
    # subexpressions, so an inline {mx} re-derives the floor+cast chain
    # inside every CASE (measured 3.3 s -> see commit for the fix delta)
    proj = [
        (
            f"CAST(floor(CAST(`{c}` AS DOUBLE) * {float(grid)!r} + 0.5) "
            f"AS DECIMAL(19,0)) AS __m{i}__"
        )
        for i, c in enumerate(cols)
    ]
    if not exact:
        proj = [f"CAST(`{c}` AS DOUBLE) AS __m{i}__" for i, c in enumerate(cols)]
    snapped = df.selectExpr(
        *proj, *[f"(`{c}` IS NOT NULL) AS __ok{i}__" for i, c in enumerate(cols)]
    )
    aggs, pairs_meta = [], []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x, y = cols[i], cols[j]
            tag = f"{i}_{j}"
            b = f"(__ok{i}__ AND __ok{j}__)"
            mx, my = f"__m{i}__", f"__m{j}__"
            aggs += [
                f"count(CASE WHEN {b} THEN 1 END) AS n_{tag}",
                f"sum(CASE WHEN {b} THEN {mx} END) AS sx_{tag}",
                f"sum(CASE WHEN {b} THEN {my} END) AS sy_{tag}",
                (f"sum(CASE WHEN {b} THEN CAST({mx} AS DECIMAL(38,0)) * {mx} END) AS qxx_{tag}"
                 if exact else f"sum(CASE WHEN {b} THEN {mx} * {mx} END) AS qxx_{tag}"),
                (f"sum(CASE WHEN {b} THEN CAST({my} AS DECIMAL(38,0)) * {my} END) AS qyy_{tag}"
                 if exact else f"sum(CASE WHEN {b} THEN {my} * {my} END) AS qyy_{tag}"),
                (f"sum(CASE WHEN {b} THEN CAST({mx} AS DECIMAL(38,0)) * {my} END) AS qxy_{tag}"
                 if exact else f"sum(CASE WHEN {b} THEN {mx} * {my} END) AS qxy_{tag}"),
            ]
            pairs_meta.append((x, y, tag))
    one = snapped.agg(*[F.expr(e) for e in aggs])
    out_cols = []
    for x, y, tag in pairs_meta:
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        if exact:
            n = F.col(f"n_{tag}").cast("decimal(19,0)")
            num = (n * F.col(f"qxy_{tag}") - sx.cast("decimal(38,0)") * sy).cast("double")
            vx = (n * F.col(f"qxx_{tag}") - sx.cast("decimal(38,0)") * sx).cast("double")
            vy = (n * F.col(f"qyy_{tag}") - sy.cast("decimal(38,0)") * sy).cast("double")
        else:
            nd2 = F.col(f"n_{tag}").cast("double")
            num = nd2 * F.col(f"qxy_{tag}") - sx * sy
            vx = nd2 * F.col(f"qxx_{tag}") - sx * sx
            vy = nd2 * F.col(f"qyy_{tag}") - sy * sy
        corr = F.when(
            (F.col(f"n_{tag}") >= 2) & (vx > 0) & (vy > 0),
            fround(num / F.sqrt(vx * vy), 6),
        )
        out_cols.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col(f"n_{tag}").cast("long").alias("n"),
                corr.alias("corr"),
            )
        )
    return one.select(
        F.explode(F.array(*out_cols)).alias("__p__")
    ).select("__p__.col_x", "__p__.col_y", "__p__.n", "__p__.corr")


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    by=None,
) -> DataFrame:
    """(id, value, qnorm) — map every value to its tie-averaged
    empirical quantile in (0, 1] within its ``by`` group: qnorm =
    avg_rank / n (the rank-uniformizing feature transform; makes any
    two feature distributions comparable before blending quality
    scores). Ties share the average rank, so identical values always
    get identical qnorm.

    Exactness: qnorm = (2*cum - c + 1) / (2n) — a pure integer ratio
    (the binary_auc doubled-rank identity) on the tie-proof 4-dp grid.

    Scale: rank state lives on the (group, value) HISTOGRAM (one
    map-side-combined groupBy + one running-sum window over histogram
    rows — bounded by value-grid cardinality); ranks join back on the
    (group, value) key, a plain shuffle join at scale. The raw frame
    never sorts globally.
    """
    from .dedup import (
        bucketed_running_sums,
        reify_null_safe_keys,
        round4_ratio,
    )

    by = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col)
    base = df.where(v.isNotNull()).select(
        *by, F.col(id_col), v.alias("value")
    )
    # reified null-safe group keys as the ACTUAL grouping keys: NULL
    # groups survive the join-backs and the join-size estimator stays
    # sane (see reify_null_safe_keys)
    base, safe_by, _ = reify_null_safe_keys(base, by)
    hist = base.groupBy(*safe_by, "value").agg(
        F.count(F.lit(1)).alias("__c__")
    )
    # two-phase distributed prefix sum, NOT one per-group ordered window
    # over the histogram (single-task sort on near-continuous columns —
    # the r5 spearman sf1 stall class); group totals come from a bounded
    # groupBy + join-back instead of a whole-group window
    cum = bucketed_running_sums(hist, safe_by, "value", ["__c__"])
    totals = hist.groupBy(*safe_by).agg(
        (2 * F.sum("__c__")).alias("__2n__")
    )
    if safe_by:
        joined = cum.join(F.broadcast(totals), on=safe_by)
    else:
        # ungrouped: totals is exactly one row — the allowlisted 1-row
        # broadcast cross (join(on=[]) raises IndexError in pyspark)
        joined = cum.crossJoin(F.broadcast(totals))
    ranked = joined.select(
        *safe_by,
        "value",
        (2 * F.col("__cum0__") - F.col("__c__") + 1).alias("__r2__"),
        "__2n__",
    )
    return base.join(ranked, on=safe_by + ["value"]).select(
        F.col(id_col),
        *by,
        "value",
        round4_ratio(F.col("__r2__"), F.col("__2n__")).alias("qnorm"),
    )


def impute(
    df: DataFrame,
    value_col: str,
    by=None,
    strategy: str = "median",
) -> DataFrame:
    """Fill NULLs in ``value_col`` from the ``by``-group statistic —
    the standard feature-prep imputation step. Adds ``{value}_imputed``
    and ``was_imputed``; non-NULL rows pass through untouched, and a
    group that is entirely NULL stays NULL (no silent global fallback).

    ``strategy``: ``median`` (exact, via
    :func:`grid_percentiles` — bounded memory on any skew), ``mean``
    (exact micro-unit integer ratio), or ``mode`` (most frequent value,
    ties to the smallest — the struct-min argmax).

    Scale: one bounded per-group stats frame broadcast back; the raw
    frame never shuffles.
    """
    from .dedup import fround

    by = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col)
    nn = df.where(v.isNotNull())
    if strategy == "median":
        stats = grid_percentiles(nn, value_col, {"__fill__": 0.5}, by=by)
    elif strategy == "mean":
        m = F.floor(v.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast(
            "decimal(38,0)"
        )
        stats = nn.groupBy(*by).agg(
            (
                F.sum(m).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).alias("__fill__")
        )
    elif strategy == "mode":
        stats = (
            nn.groupBy(*by, v.alias("__v__"))
            .agg(F.count(F.lit(1)).alias("__c__"))
            .groupBy(*by)
            .agg(
                F.min(
                    F.struct((-F.col("__c__")).alias("nc"), F.col("__v__").alias("v"))
                ).alias("__p__")
            )
            .select(*by, F.col("__p__.v").alias("__fill__"))
        )
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    joined = df.join(F.broadcast(stats), on=by, how="left") if by else (
        df.crossJoin(F.broadcast(stats))
    )
    return joined.select(
        *df.columns,
        F.coalesce(v, F.col("__fill__")).alias(f"{value_col}_imputed"),
        (v.isNull() & F.col("__fill__").isNotNull()).alias("was_imputed"),
    )


def dp_quantile(
    df: DataFrame,
    value_col: str,
    by=None,
    q: float = 0.5,
    epsilon: float = 1.0,
    *,
    seed: str,
) -> DataFrame:
    """Per-group quantile released through the EXPONENTIAL MECHANISM
    (McSherry & Talwar 2007) — the third member of the DP release
    family after :func:`dp_count` / :func:`dp_sum`: candidates are the
    group's distinct values, utility is -(rank distance to the q-target)
    with sensitivity 1, and the selection is the Gumbel-max trick over
    seeded md5 uniforms (identical to sampling P(v) ∝ exp(ε·u/2)).
    Output: group cols + ``value_dp``; the true quantile is withheld.

    Same SECURITY contract as dp_count: the draw is exactly
    reproducible by a seed holder — ``seed`` is required, keep it
    secret, rotate per release; formal DP needs fresh randomness.

    Determinism: utility is an exact integer (q snaps to percents —
    target = (q100·n) DIV 100); the Gumbel score snaps to the 1e-6
    grid with the floor form before the struct-min argmax (value
    tiebreak), so both engines select identically.

    Scale: one (group, value) histogram + one running-count window
    over it (the binary_auc contract) + one argmax — row data never
    buffers.
    """
    from .dedup import md5_hash32

    if not 0 < epsilon:
        raise ValueError("epsilon must be positive")
    by = [by] if isinstance(by, str) else list(by or [])
    q100 = int(round(q * 100))
    v = F.col(value_col)
    hist = (
        df.where(v.isNotNull())
        .groupBy(*by, v.alias("__v__"))
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    # two-phase distributed prefix sum over the value histogram (the r5
    # spearman sf1 stall class); group totals via bounded groupBy+join
    from .dedup import bucketed_running_sums, null_safe_join

    cumf = bucketed_running_sums(hist, by, "__v__", ["__c__"])
    totals = hist.groupBy(*by).agg(F.sum("__c__").alias("__n__"))
    ranked = null_safe_join(cumf, totals, by, broadcast=True).select(
        *by,
        "__v__",
        F.col("__cum0__").alias("__cum__"),
        "__n__",
    )
    target = F.expr(f"({q100}L * __n__) DIV 100")
    util = -F.abs(F.col("__cum__") - target).cast("double")
    key = F.concat_ws(
        ":",
        F.lit(seed),
        *[F.col(c).cast("string") for c in by],
        F.col("__v__").cast("string"),
    )
    u = (md5_hash32(key) + F.lit(0.5)) / F.lit(4294967296.0)
    gumbel = -F.log(-F.log(u))
    score = F.floor(
        (F.lit(epsilon / 2.0) * util + gumbel) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    pick = ranked.select(
        *by, "__v__", score.alias("__s__")
    ).groupBy(*by).agg(
        F.min(
            F.struct((-F.col("__s__")).alias("ns"), F.col("__v__").alias("v"))
        ).alias("__p__")
    )
    return pick.select(*by, F.col("__p__.v").alias("value_dp"))


# first-digit Benford expectations log10(1 + 1/d), precomputed in Python
# and embedded as identical literals in BOTH engines (the
# retrieval_metrics discount-grid contract — no runtime libm anywhere)
import math as _math

_BENFORD_EXP = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_test(
    df: DataFrame,
    value_col: str,
    grid: float = 100.0,
) -> DataFrame:
    """First-significant-digit census vs Benford's law — the classic
    fabricated-numbers / unit-mixing screen on any amount column.
    Output: one row per digit 1-9 with ``n_obs, obs_share, exp_share,
    dev`` (dev = obs_share - exp_share, the per-digit deviation; sum of
    |dev| is the MAD statistic).

    Determinism: values snap to the integer ``grid`` (cents by
    default) and the digit comes from the INTEGER's decimal string —
    zero runtime log10/pow, so there is no libm boundary to diverge
    on; expectations are Python-precomputed literals shared verbatim
    with the oracle; shares are tie-proof integer ratios. Values that
    round to 0 on the grid are excluded.

    Scale: one narrow projection + one 9-row groupBy.
    """
    from .dedup import fround, round4_ratio

    v = F.abs(F.col(value_col).cast("double"))
    m = F.floor(v * F.lit(float(grid)) + F.lit(0.5)).cast("long")
    digits = (
        df.where(F.col(value_col).isNotNull())
        .select(m.alias("__m__"))
        .where(F.col("__m__") > 0)
        .select(F.substring(F.col("__m__").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").alias("__n__"))
    out = digits.crossJoin(F.broadcast(total))
    exp_share = F.lit(None).cast("double")
    for d, e in _BENFORD_EXP.items():
        exp_share = F.when(F.col("digit") == d, F.lit(e)).otherwise(exp_share)
    obs = round4_ratio(F.col("n_obs"), F.col("__n__"))
    return out.select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        obs.alias("obs_share"),
        fround(exp_share, 4).alias("exp_share"),
        fround(obs - exp_share, 4).alias("dev"),
    )


def fd_check(
    df: DataFrame,
    lhs_cols,
    rhs_col: str,
) -> DataFrame:
    """Functional-dependency audit: does ``lhs -> rhs`` hold? Output:
    every VIOLATING lhs group (more than one distinct rhs) with
    ``group_size, n_rhs``, smallest-diversity first — the
    denormalization-consistency / dirty-join screen (the l_diversity
    output convention; an empty frame means the FD holds).

    Scale: distinct (lhs, rhs) pairs first, then counts — two
    map-side-combined hash aggregates, the Expand-free exact-distinct
    form. Violations are small when the FD nearly holds.
    """
    lhs = [lhs_cols] if isinstance(lhs_cols, str) else list(lhs_cols)
    pairs = (
        df.where(F.col(rhs_col).isNotNull())
        .groupBy(*lhs, rhs_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    return (
        pairs.groupBy(*lhs)
        .agg(
            F.sum("__c__").cast("long").alias("group_size"),
            F.count(F.lit(1)).alias("n_rhs"),
        )
        .where(F.col("n_rhs") > 1)
        .orderBy(
            F.col("n_rhs").asc(),
            F.col("group_size").asc(),
            *[F.col(c).asc() for c in lhs],
        )
    )


def mahalanobis_diag(
    df: DataFrame,
    cols,
    id_col: str,
    threshold: float = 16.27,  # chi2(k=3, 0.999)
    only_outliers: bool = False,
) -> DataFrame:
    """(id, d2, is_outlier) — squared Mahalanobis distance under a
    DIAGONAL covariance (sum of squared per-column z-scores): the
    multivariate outlier gate that catches jointly-odd rows each
    univariate :func:`zscore_outliers` pass misses. The default
    threshold is the chi-square 99.9% quantile for 3 features — pass
    your own for other k.

    Exactness: per-column moments are exact micro-unit DECIMAL sums
    (the ab_test contract); each z is (n·m - S)/(n·sqrt(var)) over
    exact integers, and d2 accumulates the k squares in fixed column
    order, fround(4). Zero-variance columns contribute 0.

    Scale: ONE 1-row moments aggregate broadcast back; one narrow
    scoring pass; the frame never shuffles.
    """
    from .dedup import fround

    cols = list(cols)
    aggs = []
    for i, c in enumerate(cols):
        m = F.floor(
            F.col(c).cast("double") * F.lit(1000000.0) + F.lit(0.5)
        ).cast("decimal(38,0)")
        aggs += [
            F.count(F.when(F.col(c).isNotNull(), 1)).alias(f"__n{i}__"),
            F.sum(m).alias(f"__s{i}__"),
            F.sum(m * m).alias(f"__q{i}__"),
        ]
    stats = df.agg(*aggs)
    # hoist the CONSTANT per-column denominators onto the 1-row stats
    # frame (same IEEE chain, so values are bit-identical) — computing
    # n·sqrt(var) inside the per-row expression re-derived the whole
    # moments arithmetic per row per column (measured 6.8 s at sf0.1,
    # the corr_matrix no-shared-subexpression class)
    hoisted = []
    for i, c in enumerate(cols):
        n = F.col(f"__n{i}__").cast("decimal(38,0)")
        nd = F.col(f"__n{i}__").cast("double")
        var = (
            n * F.col(f"__q{i}__") - F.col(f"__s{i}__") * F.col(f"__s{i}__")
        ).cast("double") / (nd * (nd - F.lit(1.0)))
        hoisted += [
            F.col(f"__n{i}__"),
            F.col(f"__s{i}__"),
            (nd * F.sqrt(var)).alias(f"__den{i}__"),
            ((F.col(f"__n{i}__") >= 2) & (var > 0)).alias(f"__ok{i}__"),
        ]
    stats = stats.select(*hoisted)
    joined = df.crossJoin(F.broadcast(stats))
    d2 = F.lit(0.0)
    for i, c in enumerate(cols):
        n = F.col(f"__n{i}__").cast("decimal(38,0)")
        m = F.floor(
            F.col(c).cast("double") * F.lit(1000000.0) + F.lit(0.5)
        ).cast("decimal(38,0)")
        z = (n * m - F.col(f"__s{i}__")).cast("double") / F.col(f"__den{i}__")
        d2 = d2 + F.when(
            F.col(c).isNotNull() & F.col(f"__ok{i}__"), z * z
        ).otherwise(F.lit(0.0))
    out = joined.select(
        F.col(id_col),
        fround(d2, 4).alias("d2"),
        (fround(d2, 4) > F.lit(float(threshold))).alias("is_outlier"),
    )
    if only_outliers:
        # gate INSIDE the op (a downstream .filter on the derived column
        # would push below the projection and re-derive d2 in the scan
        # predicate anyway — here we keep the output bounded so callers
        # never pay a full-frame collect for a gate)
        out = joined.where(fround(d2, 4) > F.lit(float(threshold))).select(
            F.col(id_col),
            fround(d2, 4).alias("d2"),
            F.lit(True).alias("is_outlier"),
        )
    return out


def hhi(df: DataFrame, group_col: str) -> DataFrame:
    """One-row Herfindahl-Hirschman concentration index of the
    ``group_col`` mix: ``n_groups, hhi, top_share`` — the
    source-concentration health check on a data mixture (hhi on the
    classic 0..10000 scale: 10000/n_groups = perfectly uniform, 10000 =
    single source). Exact integer ratios throughout.

    Scale: one map-side-combined groupBy to the bounded group table +
    one 1-row rollup.
    """
    from .dedup import round4_ratio

    g = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("__c__"))
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("__c__")).cast("decimal(19,0)").alias("__n__"),
        F.sum(F.col("__c__").cast("decimal(38,0)") * F.col("__c__")).alias(
            "__sq__"
        ),
        F.max("__c__").alias("__top__"),
    )
    return agg.select(
        F.col("n_groups").cast("long").alias("n_groups"),
        round4_ratio(
            (F.lit(10000).cast("decimal(19,0)") * F.col("__sq__")).cast("double"),
            (F.col("__n__") * F.col("__n__")).cast("double"),
        ).alias("hhi"),
        round4_ratio(
            F.col("__top__").cast("double"), F.col("__n__").cast("double")
        ).alias("top_share"),
    )


def skew_report(
    df: DataFrame,
    key_cols,
    top: int = 10,
) -> DataFrame:
    """Hot-key diagnostic — the question to ask BEFORE a big
    groupBy/join ships: "which keys would land on one reducer, and how
    much hotter are they than average". Output: the ``top`` heaviest
    keys with ``rank, <key cols>, n_rows, share`` (exact tie-proof 4-dp
    ratio of total rows) and ``skew_factor`` (count ÷ mean rows/key —
    1.0 is perfectly uniform; a key with skew_factor ≈ n_partitions
    saturates one task). Feed the verdict into ``salted_aggregate`` /
    ``salted_join`` or a ``cap_per_group`` gate.

    Scale: one map-side-combined count aggregate (bounded by key
    cardinality), a TakeOrdered top-k (bounded heap, never a full
    sort), and a 1-row totals broadcast. NULL keys count as their own
    key (they hash to one reducer like any other value — the classic
    silent hot key).
    """
    from .dedup import round4_ratio

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__n__"),
        F.count(F.lit(1)).alias("__k__"),
    )
    topk = (
        counts.orderBy(
            F.col("n_rows").desc(), *[F.col(k).asc_nulls_first() for k in keys]
        )
        .limit(top)
        .crossJoin(F.broadcast(totals))
    )
    w = Window.orderBy(
        F.col("n_rows").desc(), *[F.col(k).asc_nulls_first() for k in keys]
    )
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        *keys,
        "n_rows",
        round4_ratio(F.col("n_rows"), F.col("__n__")).alias("share"),
        # count / (n/k) = count·k/n — exact integer ratio
        round4_ratio(
            F.col("n_rows") * F.col("__k__"), F.col("__n__")
        ).alias("skew_factor"),
    )


def join_cardinality_report(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str = None,
) -> DataFrame:
    """Join-shape profile BEFORE you pay for the join — the data-eng
    question "is this key actually 1:1 / 1:N, how many orphans, and
    what fan-out will the join explode to". Output (one row):
    ``n_left, n_right, null_left, null_right, distinct_left_keys,
    distinct_right_keys, matched_keys, left_orphan_keys,
    right_orphan_keys, join_rows, max_left_fanout, max_right_fanout,
    relationship`` ('one_to_one' / 'one_to_many' / 'many_to_one' /
    'many_to_many' over the MATCHED keys; 'no_matches' when none).

    Scale/exactness: both sides reduce to key histograms (map-side
    combined), one full-outer join of the histograms does everything —
    the real join never runs, join_rows = Σ cl·cr is exact
    DECIMAL(38). NULL keys never equi-join; they are counted
    separately, not silently dropped (the r6 NULL-key lesson)."""
    rk = right_key or left_key
    lkey = F.col(left_key)
    rkey = F.col(rk)
    lh = (
        left.where(lkey.isNotNull())
        .groupBy(lkey.cast("string").alias("__k__"))
        .agg(F.count(F.lit(1)).alias("__cl__"))
    )
    rh = (
        right.where(rkey.isNotNull())
        .groupBy(rkey.cast("string").alias("__k__"))
        .agg(F.count(F.lit(1)).alias("__cr__"))
    )
    nulls_l = left.agg(
        F.count(F.lit(1)).alias("__nl__"),
        F.count(F.when(lkey.isNull(), 1)).alias("__nulll__"),
    )
    nulls_r = right.agg(
        F.count(F.lit(1)).alias("__nr__"),
        F.count(F.when(rkey.isNull(), 1)).alias("__nullr__"),
    )
    j = lh.join(rh, on="__k__", how="full_outer")
    cl = F.coalesce(F.col("__cl__"), F.lit(0))
    cr = F.coalesce(F.col("__cr__"), F.lit(0))
    matched = (cl > 0) & (cr > 0)
    agg = j.agg(
        F.count(F.when(cl > 0, 1)).alias("distinct_left_keys"),
        F.count(F.when(cr > 0, 1)).alias("distinct_right_keys"),
        F.count(F.when(matched, 1)).alias("matched_keys"),
        F.count(F.when((cl > 0) & (cr == 0), 1)).alias("left_orphan_keys"),
        F.count(F.when((cr > 0) & (cl == 0), 1)).alias("right_orphan_keys"),
        F.coalesce(
            F.sum(
                F.when(matched, cl.cast("decimal(38,0)") * cr)
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__jr__"),
        F.coalesce(
            F.max(F.when(matched, cl)), F.lit(0)
        ).alias("max_left_fanout"),
        F.coalesce(
            F.max(F.when(matched, cr)), F.lit(0)
        ).alias("max_right_fanout"),
    )
    rel = (
        F.when(F.col("matched_keys") == 0, F.lit("no_matches"))
        .when(
            (F.col("max_left_fanout") <= 1) & (F.col("max_right_fanout") <= 1),
            F.lit("one_to_one"),
        )
        .when(F.col("max_left_fanout") <= 1, F.lit("one_to_many"))
        .when(F.col("max_right_fanout") <= 1, F.lit("many_to_one"))
        .otherwise(F.lit("many_to_many"))
    )
    return (
        agg.crossJoin(F.broadcast(nulls_l))
        .crossJoin(F.broadcast(nulls_r))
        .select(
            F.col("__nl__").cast("long").alias("n_left"),
            F.col("__nr__").cast("long").alias("n_right"),
            F.col("__nulll__").cast("long").alias("null_left"),
            F.col("__nullr__").cast("long").alias("null_right"),
            F.col("distinct_left_keys").cast("long").alias("distinct_left_keys"),
            F.col("distinct_right_keys").cast("long").alias("distinct_right_keys"),
            F.col("matched_keys").cast("long").alias("matched_keys"),
            F.col("left_orphan_keys").cast("long").alias("left_orphan_keys"),
            F.col("right_orphan_keys").cast("long").alias("right_orphan_keys"),
            F.col("__jr__").cast("long").alias("join_rows"),
            F.col("max_left_fanout").cast("long").alias("max_left_fanout"),
            F.col("max_right_fanout").cast("long").alias("max_right_fanout"),
            rel.alias("relationship"),
        )
    )


def dp_mean(
    df: DataFrame,
    value_col: str,
    group_cols,
    clip: float,
    epsilon: float = 1.0,
    *,
    seed: str,
) -> DataFrame:
    """Per-group differentially-private MEAN — the ratio release that
    completes the family (:func:`dp_count` / :func:`dp_sum` /
    :func:`dp_quantile`): epsilon splits evenly between a clipped noisy
    sum (sensitivity ``clip``) and a noisy count (sensitivity 1), and
    ``mean_dp = noisy_sum / max(noisy_count, 1)`` — the standard
    bounded-ratio estimator. Output: group cols + ``count_dp, mean_dp``
    (4 dp); no true statistic is emitted.

    Same contracts as dp_sum: values clamp to [0, clip] on the exact
    cent grid; BOTH noise draws are seeded md5 inverse-CDF Laplace
    (independent via distinct tag prefixes), so the release is exactly
    reproducible by a seed holder — keep the seed secret, rotate per
    release. The oracle reproduces both draws and the ratio
    bit-for-bit."""
    from .dedup import fround, md5_hash32

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not 0 < epsilon:
        raise ValueError("epsilon must be positive")
    clip = float(clip)
    if not clip > 0:
        raise ValueError("clip must be positive")
    v = F.col(value_col).cast("double")
    clipped = F.greatest(F.lit(0.0), F.least(F.lit(clip), v))
    cents = F.floor(clipped * F.lit(100.0) + F.lit(0.5)).cast("decimal(38,0)")
    agg = (
        df.where(v.isNotNull())
        .groupBy(*[F.col(c) for c in groups])
        .agg(
            F.sum(cents).alias("__s__"),
            F.count(F.lit(1)).alias("__n__"),
        )
    )

    def lap(tag, scale):
        key = F.concat_ws(
            ":", F.lit(f"{seed}{tag}"),
            *[F.col(c).cast("string") for c in groups],
        )
        u = (md5_hash32(key) + F.lit(0.5)) / F.lit(4294967296.0)
        c = u - F.lit(0.5)
        return (
            -F.lit(scale)
            * F.signum(c)
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
        )

    half = epsilon / 2.0
    noisy_sum = F.col("__s__").cast("double") / F.lit(100.0) + lap(
        ":sum", clip / half
    )
    noisy_cnt = F.col("__n__").cast("double") + lap(":cnt", 1.0 / half)
    return agg.select(
        *[F.col(c) for c in groups],
        fround(noisy_cnt, 4).alias("count_dp"),
        fround(
            noisy_sum / F.greatest(noisy_cnt, F.lit(1.0)), 4
        ).alias("mean_dp"),
    )
