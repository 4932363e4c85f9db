"""Derived time-series analytics: as-of joins, gap filling, counter
rates, rolling anomaly scores.

The reference stores and serves raw/binned series; its consumers (the
graphing layer and alerting scripts downstream of the export protocol)
recompute exactly these derivations client-side over NNTSC history:
gap detection around the measurement frequency (reference:
libnntsc/exporter.py frequency estimation feeds the grapher's gap
breaks), RRD-style counter rates (the RRD family NNTSC scrapes stores
COUNTER DSs — rrd_smokeping.py's source format), and event detection
over latency series (the eventing sibling consumes NNTSC exports).
Pushing them into the engine turns per-client Python loops into
distributed plans.

Scale shape shared by all four: ONE shuffle on the series key into a
per-key ordered window — no self-joins, no range-join row explosion,
no driver loops.  A pathologically hot key serializes through one
partition's sort; that is inherent to per-key ordered semantics (same
cost class as W2's lag windows) and is bounded in practice by
time-slicing the input before derivation (operators/chunking.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..scratch import scratch_persist


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "stream_id",
    ts_col: str = "timestamp",
    tolerance: int | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Backward as-of join: each left row picks up the latest right row
    with ``right.ts <= left.ts`` on the same key (inclusive), or NULLs
    when none exists (left-join semantics) — the standard alignment of
    an event stream against slowly-changing reference points (quotes
    before trades; last config change before a measurement).

    Spark-first shape: instead of a range join (which explodes into a
    per-pair inequality filter) the two sides are TAGGED and UNIONED,
    then a single per-key ordered window carries the most recent right
    payload forward onto each left row (``last(..., ignorenulls)``) —
    one shuffle, linear work, no pair blowup.  At equal timestamps the
    right row sorts first, making the match inclusive.  The whole right
    payload travels as ONE struct (not per-column carries), so a NULL
    payload value in the matched right row stays NULL instead of being
    back-filled from an older right row — the carried columns always
    come from the same physical right row, matching ``merge_asof``.

    ``tolerance`` (seconds) nulls out matches older than ``left.ts -
    tolerance`` (pandas ``merge_asof`` semantics).  The matched right
    timestamp is emitted as ``{ts_col}{suffix}``.

    Contract: ``right`` must be unique per ``(on, ts_col)`` — with ties
    the carried payload would be sort-nondeterministic; pre-aggregate
    the right side (e.g. ``max_by``) to one row per key+ts first.
    Right payload columns colliding with left names get ``suffix``.
    """
    payload = [c for c in right.columns if c not in (on, ts_col)]
    out_names = {
        c: (c + suffix if c in left.columns else c) for c in payload
    }
    rts = ts_col + suffix

    r2 = right.select(
        F.col(on),
        F.col(ts_col),
        F.lit(0).alias("_side"),
        F.struct(
            *[F.col(c).alias(out_names[c]) for c in payload],
            F.col(ts_col).alias(rts),
        ).alias("_r"),
    )
    l2 = left.withColumn("_side", F.lit(1)).withColumn(
        "_r", F.lit(None).cast(r2.schema["_r"].dataType)
    )
    for c in [c for c in l2.columns if c not in r2.columns]:
        r2 = r2.withColumn(c, F.lit(None).cast(l2.schema[c].dataType))
    u = l2.select(*l2.columns).unionByName(r2.select(*l2.columns))

    w = (
        Window.partitionBy(on)
        .orderBy(ts_col, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
    out = u.where(F.col("_side") == 1).drop("_side", "_r")
    carried = [out_names[c] for c in payload] + [rts]
    if tolerance is not None:
        stale = F.col("_m").isNull() | (
            F.col(ts_col) - F.col("_m")[rts] > int(tolerance)
        )
        out = out.withColumn(
            "_m", F.when(stale, F.lit(None)).otherwise(F.col("_m"))
        )
    for c in carried:
        out = out.withColumn(c, F.col("_m")[c])
    return out.drop("_m")


def gapfill(
    binned: DataFrame,
    binsize: int,
    start: int,
    stop: int,
    key: str = "stream_id",
    bin_col: str = "binstart",
    value_cols: list[str] | None = None,
    method: str = "locf",
) -> DataFrame:
    """Regularize a binned series: emit EVERY bin in ``[start, stop]``
    for every key, filling bins absent from ``binned`` — the reference's
    graphing layer detects gaps client-side from the estimated frequency
    (T9); serving an already-regular grid moves that loop into the plan.

    The scaffold is generated DISTRIBUTED: ``sequence()`` builds each
    key's bin array as one expression and explodes — no driver-side
    range loop, no cartesian against a driver-built calendar table.  The
    scaffold left-joins the observed bins; ``filled`` marks synthesized
    rows.  Fill methods for each value column:

    - ``"none"``: leave NULL (gap detection itself),
    - ``"locf"``: last observation carried forward (step series:
      counters, states) — one ``last(ignorenulls)`` window,
    - ``"linear"``: linear interpolation between the surrounding
      observations (continuous series: latency); leading/trailing edges
      with only one neighbor fall back to that neighbor (pandas
      ``interpolate(limit_direction="both")`` semantics).

    Scale: one explode (map-side, rows = keys x bins) + the one per-key
    window shuffle; output size is the contract (keys x bins), not a
    blowup.
    """
    if method not in ("none", "locf", "linear"):
        raise ValueError(f"unknown fill method: {method}")
    value_cols = value_cols or [
        c for c in binned.columns if c not in (key, bin_col)
    ]
    b0 = (int(start) // binsize) * binsize
    b1 = (int(stop) // binsize) * binsize
    scaffold = (
        binned.select(key)
        .distinct()
        .select(
            key,
            F.explode(
                F.sequence(F.lit(b0), F.lit(b1), F.lit(int(binsize)))
            ).alias(bin_col),
        )
    )
    obs = binned.withColumn("_obs", F.lit(1))
    out = scaffold.join(obs, [key, bin_col], "left").withColumn(
        "filled", F.col("_obs").isNull()
    ).drop("_obs")

    if method == "none":
        return out

    wb = Window.partitionBy(key).orderBy(bin_col)
    back = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if method == "locf":
        for c in value_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(back))
        return out

    # Each value column interpolates between its OWN surrounding non-null
    # observations: the (x, y) pair travels as one struct so the
    # coordinate and the value always come from the same row — an
    # observed bin carrying a NULL value is a gap for that column, never
    # an interpolation anchor (pandas interpolate() semantics).
    fwd = wb.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    for c in value_cols:
        pair = F.when(
            F.col(c).isNotNull(),
            F.struct(F.col(bin_col).alias("b"), F.col(c).alias("v")),
        )
        p = F.last(pair, ignorenulls=True).over(back)
        nx = F.first(pair, ignorenulls=True).over(fwd)
        frac = (F.col(bin_col) - p["b"]) / (nx["b"] - p["b"])
        interp = (
            F.when(F.col(c).isNotNull(), F.col(c))
            .when(p.isNull(), nx["v"])  # leading edge
            .when(nx.isNull(), p["v"])  # trailing edge
            .otherwise(p["v"] + (nx["v"] - p["v"]) * frac)
        )
        out = out.withColumn(c, interp)
    return out


def counter_rate(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    order_cols: list[str] | None = None,
    max_rate: float | None = None,
) -> DataFrame:
    """Per-key rate of change of a monotonic counter, RRD COUNTER
    semantics (the DS type of the RRD files the reference scrapes,
    reference: rrd.py's smokeping sources): ``rate = (v - prev_v) /
    (ts - prev_ts)``; a NEGATIVE delta means the counter reset, and the
    post-reset value is taken as the delta (restart-from-zero
    assumption, flagged ``reset``).  ``max_rate`` mirrors RRD's sanity
    bound: rates above it become NULL (a wrap misread as a reset).

    Each key's first row has no predecessor and is dropped — emitting
    it as NULL would double the output for single-row keys with no
    information.  One lag window, one shuffle.

    ``order_cols`` breaks timestamp ties deterministically (default:
    ``ts_col`` alone — supply a unique id when duplicate timestamps per
    key are possible).  Zero-dt pairs (same second) yield NULL rate.
    """
    order = [ts_col] + (order_cols or [])
    w = Window.partitionBy(key).orderBy(*order)
    prev_v = F.lag(value_col).over(w)
    prev_t = F.lag(ts_col).over(w)
    out = (
        fact.withColumn("_pv", prev_v)
        .withColumn("_pt", prev_t)
        .where(F.col("_pv").isNotNull())
    )
    delta = F.col(value_col) - F.col("_pv")
    reset = delta < 0
    eff = F.when(reset, F.col(value_col)).otherwise(delta)
    dt = F.col(ts_col) - F.col("_pt")
    rate = F.when(dt > 0, eff / dt).otherwise(F.lit(None))
    if max_rate is not None:
        rate = F.when(rate > float(max_rate), F.lit(None)).otherwise(rate)
    return (
        out.withColumn("rate", rate)
        .withColumn("reset", reset)
        .drop("_pv", "_pt")
    )


def rolling_zscore(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    order_cols: list[str] | None = None,
    n: int = 20,
    min_points: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Rolling z-score anomaly detection: each point scored against the
    mean/stddev of its ``n`` PRECEDING points on the same key (the
    point itself excluded, so a spike can't mask itself) — the
    latency-event detection the reference's ecosystem runs downstream
    over exported series, as one window plan.

    ``z`` is NULL until ``min_points`` history exists or when the
    trailing window is constant (stddev 0); ``is_anomaly`` is
    ``|z| > threshold``.  One window shuffle; the rolling frame is
    rows-based with ``order_cols`` tie-breaking, so results are
    deterministic under duplicate timestamps.
    """
    order = [ts_col] + (order_cols or [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(-int(n), -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    cnt = F.count(value_col).over(w)
    z = F.when(
        (cnt >= int(min_points)) & (sd > 0),
        (F.col(value_col) - mean) / sd,
    )
    return (
        fact.withColumn("z", z)
        .withColumn(
            "is_anomaly",
            F.when(F.col("z").isNotNull(), F.abs("z") > float(threshold)),
        )
    )


def ewma(
    fact: DataFrame,
    alpha: float = 0.25,
    keys: tuple[str, ...] = ("stream_id",),
    ts_col: str = "timestamp",
    value_col: str = "value",
    order_cols: list[str] | None = None,
    lookback: int | None = 64,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per series — the smoothing
    primitive under RRD-style consolidation and the level term of
    Holt-Winters detectors (the reference's downstream eventing family
    runs exactly this class of smoother over exported NNTSC series).

    Semantics: the weight-renormalized form (pandas ``ewm(alpha,
    adjust=True).mean()``) over the last ``lookback`` observations —
    ``s_t = sum_j beta^j x_{t-j} / sum_j beta^j`` with ``beta = 1 -
    alpha``.  ``lookback=None`` uses the full per-key history (exact
    classic EWMA, since truncated weights < ``beta^lookback`` are
    renormalized away anyway: the bounded default's error is provably
    < ``beta^64`` ~ 1e-8 at alpha=0.25 while keeping per-row state
    CONSTANT — the same bound-the-history move as frequency's
    ``max_diffs``).

    Spark-first shape: one shuffle into a per-key ordered window;
    both folds (numerator and weight mass) are JVM ``aggregate`` HOFs
    over the frame-ordered ``collect_list`` — the recursion ``acc*beta
    + x`` IS the exponential weighting, so no ``pow`` calls appear and
    the arithmetic is a deterministic left-to-right chain both engines
    reproduce bit-for-bit.  NULL values are dropped up front (a NULL
    observation has no place in either the history or the output).

    Output: input rows (keys, ts, order_cols, value) + ``out_col``
    rounded to 4.
    """
    beta = 1.0 - float(alpha)
    w = Window.partitionBy(*keys).orderBy(ts_col, *(order_cols or []))
    w = (
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if lookback is None
        else w.rowsBetween(-(int(lookback) - 1), Window.currentRow)
    )
    hist = (
        fact.where(F.col(value_col).isNotNull())
        .select(
            *keys,
            ts_col,
            *(order_cols or []),
            F.col(value_col).cast("double").alias(value_col),
        )
        .withColumn("_h", F.collect_list(value_col).over(w))
    )
    num = f"aggregate(_h, 0D, (acc, x) -> acc * {beta!r}D + x)"
    wsum = f"aggregate(_h, 0D, (acc, x) -> acc * {beta!r}D + 1D)"
    return hist.select(
        *keys,
        ts_col,
        *(order_cols or []),
        value_col,
        F.round(F.expr(num) / F.expr(wsum), 4).alias(out_col),
    )


def holt_winters(
    fact: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.4,
    season_length: int = 24,
    nsigma: float = 4.0,
    resid_window: int = 50,
    keys: tuple[str, ...] = ("stream_id",),
    ts_col: str = "timestamp",
    value_col: str = "value",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Additive Holt-Winters smoothing + residual-band anomaly flags per
    series — the triple-exponential detector the reference's downstream
    eventing stack (the AMP ecosystem's event monitor) runs over exported
    latency series; here it's pushed into the engine as a distributed
    operator.

    Model (additive, standard form):
      forecast_t = l + b + s[t-m]
      l' = alpha*(x_t - s[t-m]) + (1-alpha)*(l + b)
      b' = beta*(l' - l) + (1-beta)*b
      s' = gamma*(x_t - l') + (1-gamma)*s[t-m]
    Deterministic warmup over the first two seasons: l = mean(season 1),
    b = (mean(season 2) - mean(season 1)) / m, s = season-1 deviations
    from its mean; rows in the warmup window emit NULL forecast.  A row
    is anomalous when |residual| > nsigma * stddev of the trailing
    ``resid_window`` residuals (population stddev; needs >= 5 residuals).

    Spark-first shape: the recursion is genuinely sequential PER SERIES,
    so this is the sanctioned Arrow seam — but NOT ``applyInPandas``:
    with millions of short series, grouped-map ships one tiny Arrow
    batch and builds one pandas frame PER GROUP, and that per-group
    overhead dominates the arithmetic (measured ~2.5x the whole job on
    1500-series probes).  Instead the input is hash-repartitioned on
    ``keys`` and sorted within partitions, and ``mapInPandas`` walks the
    partition's batches, stitching each series across batch boundaries
    (memory held: ONE series + one batch, the same bound grouped-map
    has) and emitting output a BATCH at a time.  The per-series float
    loop is byte-identical either way — only the batching changes.  No
    driver collect, no cross-series state.

    Output: keys + (ts, order_cols, value, forecast, residual,
    is_anomaly), floats rounded to 4.
    """
    import math

    m = int(season_length)
    ocols = list(order_cols or [])
    a, bb, g = float(alpha), float(beta), float(gamma)
    out_fields = ", ".join(
        f"`{k}` {t}"
        for k, t in fact.select(*keys, ts_col, *ocols).dtypes
    )
    schema = (
        f"{out_fields}, {value_col} double, forecast double, "
        "residual double, is_anomaly boolean"
    )

    id_cols = [*keys, ts_col, *ocols]

    def run_series(xs):
        """The HW recursion over one sorted series — the float chain the
        oracle replays operation-for-operation."""
        n = len(xs)
        fc: list[float | None] = [None] * n
        res: list[float | None] = [None] * n
        flag: list[bool | None] = [None] * n
        if n >= 2 * m:
            m1 = sum(xs[:m]) / m
            m2 = sum(xs[m : 2 * m]) / m
            lvl, tr = m1, (m2 - m1) / m
            seas = [x - m1 for x in xs[:m]]
            hist: list[float] = []
            for t in range(m, n):
                s_i = seas[t % m]
                f = lvl + tr + s_i
                r = xs[t] - f
                if t >= 2 * m:
                    fc[t], res[t] = f, r
                    tail = hist[-int(resid_window):]
                    if len(tail) >= 5:
                        mu = sum(tail) / len(tail)
                        # (v-mu)*(v-mu), not **2: C pow() is not required
                        # to round like the multiply, and the oracle
                        # replays this chain operation-for-operation
                        sd = math.sqrt(
                            sum((v - mu) * (v - mu) for v in tail)
                            / len(tail)
                        )
                        flag[t] = abs(r) > float(nsigma) * sd if sd > 0 else abs(r) > 0
                    hist.append(r)
                else:
                    hist.append(r)
                prev = lvl
                lvl = a * (xs[t] - s_i) + (1 - a) * (lvl + tr)
                tr = bb * (lvl - prev) + (1 - bb) * tr
                seas[t % m] = g * (xs[t] - lvl) + (1 - g) * s_i
        return fc, res, flag

    def run_partition(batches):
        import pandas as pd

        # Flat accumulators, ONE output frame per ~10k-row flush.  The
        # previous shape built a pandas frame PER SERIES (slice copy +
        # four column inserts + three pd.array constructions each);
        # with thousands of short series that per-frame surgery was 6x
        # the recursion itself (measured 2.8 s -> 0.5 s per 46k-row
        # partition, bit-identical output).  Guide §4.2: hand the
        # columnar library whole batches, not per-group crumbs.
        id_parts: list = []  # finished series' row slices, in order
        vals: list = []
        fcs: list = []
        ress: list = []
        flags: list = []
        out_n = 0
        pend_key = None
        pend: list = []  # chunks of the series straddling batch edges

        def finish():
            nonlocal pend_key, pend, out_n
            g = pend[0] if len(pend) == 1 else pd.concat(pend)
            xs = g[value_col].to_numpy().tolist()
            fc, res, flag = run_series(xs)
            id_parts.append(g)
            vals.extend(round(x, 4) for x in xs)
            fcs.extend(v if v is None else round(v, 4) for v in fc)
            ress.extend(v if v is None else round(v, 4) for v in res)
            flags.extend(flag)
            pend_key, pend = None, []
            out_n += len(xs)

        def flush():
            nonlocal id_parts, vals, fcs, ress, flags, out_n
            big = pd.concat(id_parts) if len(id_parts) > 1 else id_parts[0]
            out = big[id_cols].copy()
            out[value_col] = vals
            # nullable dtypes (not object-with-None): an all-NA warmup
            # series would otherwise destabilize concat dtypes, and the
            # masked NA converts to a true SQL NULL through Arrow
            out["forecast"] = pd.array(fcs, dtype="Float64")
            out["residual"] = pd.array(ress, dtype="Float64")
            out["is_anomaly"] = pd.array(flags, dtype="boolean")
            id_parts, vals, fcs, ress, flags = [], [], [], [], []
            out_n = 0
            return out

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # rows arrive key-clustered and time-sorted (repartition +
            # sortWithinPartitions); contiguous runs ARE the series
            for key, g in pdf.groupby(list(keys), sort=False):
                if pend_key is not None and key != pend_key:
                    finish()
                pend_key = key
                pend.append(g)
            if out_n >= 10_000:
                yield flush()
        if pend:
            finish()
        if out_n:
            yield flush()

    return (
        # project BEFORE the exchange: mapInPandas is opaque, so without
        # this the full fact row (event_type and friends) rides the
        # shuffle, the sort and the Arrow boundary only to be dropped by
        # the function (guide §4.1)
        fact.where(F.col(value_col).isNotNull())
        .select(*id_cols, value_col)
        .repartition(*keys)
        .sortWithinPartitions(*keys, ts_col, *ocols)
        .mapInPandas(run_partition, schema)
    )


def cusum(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    order_cols: list[str] | None = None,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Two-sided tabular CUSUM changepoint detection (Page 1954): each
    series point carries the upper/lower cumulative-deviation statistics
    against the per-key baseline, with ``is_change`` when either exceeds
    ``h`` standard deviations.

    The textbook recursion ``S+_i = max(0, S+_{i-1} + z_i - k)`` is not
    a window function, but it has a closed form Spark CAN express:
    ``S+_i = C_i - min(0, min_{j<=i} C_j)`` where ``C`` is the running
    sum of ``z - k`` — a cumulative sum minus a cumulative min, two
    ordered-window aggregates over the SAME partition/order, so the
    whole operator is one shuffle and one sort (the baseline mean/sd
    windows reuse the same exchange).  No recursion, no UDF, no
    driver loop — the same identity the salted/windowed operators in
    this file lean on, and the shape that survives 100x: per-key
    ordered state never leaves its partition.

    ``z`` (and both statistics) are NULL for constant series (sd = 0).
    ``k`` is the slack (drift allowance) and ``h`` the decision
    threshold, both in sd units.
    """
    order = [ts_col] + (order_cols or [])
    w_all = Window.partitionBy(key)
    w_run = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mu = F.avg(value_col).over(w_all)
    sd = F.stddev_samp(value_col).over(w_all)
    z = F.when(sd > 0, (F.col(value_col) - mu) / sd)
    c_pos = F.sum(z - F.lit(float(k))).over(w_run)
    c_neg = F.sum(-z - F.lit(float(k))).over(w_run)
    s_pos = c_pos - F.least(F.min(c_pos).over(w_run), F.lit(0.0))
    s_neg = c_neg - F.least(F.min(c_neg).over(w_run), F.lit(0.0))
    return (
        fact.withColumn("cusum_pos", s_pos)
        .withColumn("cusum_neg", s_neg)
        .withColumn(
            "is_change",
            F.when(
                F.col("cusum_pos").isNotNull(),
                (F.col("cusum_pos") > float(h))
                | (F.col("cusum_neg") > float(h)),
            ),
        )
    )


def seasonal_decompose(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    period: int = 24,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method; Cleveland's STL is its loess refinement): value = trend +
    seasonal + remainder, per series key.

    - trend: the textbook centered moving average — a simple
      ``period``-point MA for odd periods, the classical 2x``m``
      weighted MA for even periods (half-weight endpoints, i.e. the
      mean of the two ``period``-point MAs offset by one row; what
      statsmodels computes for ``period=24``).  NULL until the full
      ``2*(period//2)+1``-row window exists (series edges) — ordered
      windows over one partitioning either way.
    - seasonal: per-(key, phase) mean of the detrended values, centered
      by subtracting the per-key mean of the phase means so the seasonal
      component sums to ~0 over one period — two SMALL aggregations
      (keys x period rows, then keys rows) joined back onto the fact.
      The join side is keys-proportional, so the strategy is left to
      AQE: it broadcasts from runtime stats while the table fits and
      degrades to an ordinary co-partitioned join beyond that (a FORCED
      broadcast would OOM the driver at millions of keys).
    - remainder: what's left (NULL wherever trend is NULL).

    Phase is positional (row_number % period), i.e. the series is
    assumed regular — compose with :func:`gapfill` first for sparse
    series, exactly as a forecaster would.

    Every averaged intermediate is pinned to 6 decimals — the
    cross-engine determinism discipline (textrank_keywords'
    per-iteration pin).  The trend uses round(·, 6) on the window mean
    (window-frame accumulation is in-order on both engines); the phase
    means and their key mean are quantized to integer MICRO-units
    instead (scale-0 rounding of an identical double is engine-portable
    where round-6 of a group avg is not — group-avg accumulation order
    differs at the last ulp and flips round-6 cells sitting on
    .0000005 boundaries), so the per-phase aggregation is an exact,
    order-independent integer sum.  1e-6 is far below any physical
    signal in the series.
    """
    order = [ts_col] + (order_cols or [])
    period = int(period)
    half = period // 2
    w_ord = Window.partitionBy(key).orderBy(*order)
    w_full = w_ord.rowsBetween(-half, half)
    if period % 2 == 0:
        # classical 2xm centered MA (half-weight endpoints, statsmodels'
        # even-period trend) via the endpoint identity:
        #   sum[-h..h-1] + sum[-h+1..h] = 2*sum[-h..h] - x[t-h] - x[t+h]
        # ONE sliding sum + two O(1) offset frames (lag/lead) instead of
        # two extra sliding-sum frames — at x1000 the three-sliding-frame
        # form ran 89 s where this one matches the odd-period cost
        trend = F.when(
            F.count(value_col).over(w_full) == period + 1,
            (
                2.0 * F.sum(value_col).over(w_full)
                - F.lag(value_col, half).over(w_ord)
                - F.lead(value_col, half).over(w_ord)
            )
            / F.lit(2.0 * period),
        )
    else:
        trend = F.when(
            F.count(value_col).over(w_full) == period,
            F.avg(value_col).over(w_full),
        )
    df = fact.withColumn(
        "_phase", (F.row_number().over(w_ord) - 1) % period
    ).withColumn(
        "trend", F.round(trend, 6)
    ).withColumn(
        # micro-unit quantization, not round(x, 6): scale-0 rounding of
        # an identical double IS engine-portable (both engines round
        # the exact same double to its nearest integer, half away from
        # zero), whereas round(avg(...), 6) is not — the group avg's
        # accumulation ORDER differs between engines by a last-ulp that
        # round-6 flips whenever a mean lands on a .0000005 boundary
        # (observed when the 2xm trend change moved one phase mean onto
        # one).  Integer micro sums are exact and order-independent.
        "_detr_u",
        F.round((F.col(value_col) - F.col("trend")) * 1e6, 0).cast("long"),
    )
    # the windowed frame feeds TWO consumers (the phase-mean aggregation
    # AND the final join's left side); unpersisted, the per-key ordered
    # window — the expensive stage — evaluates twice (the same
    # multi-consumer trap semantic_dedup's assignment had)
    df = scratch_persist(df)
    phase_means = df.groupBy(key, "_phase").agg(
        F.round(
            F.sum("_detr_u").cast("double") / F.count("_detr_u"), 0
        )
        .cast("long")
        .alias("_sbar_u")
    )
    key_means = phase_means.groupBy(key).agg(
        F.round(
            F.sum("_sbar_u").cast("double") / F.count("_sbar_u"), 0
        )
        .cast("long")
        .alias("_sbar0_u")
    )
    seasonal = (
        phase_means.join(key_means, key)
        .select(
            key,
            "_phase",
            (
                (F.col("_sbar_u") - F.col("_sbar0_u")) / F.lit(1e6)
            ).alias("seasonal"),
        )
    )
    return (
        df.join(seasonal, [key, "_phase"])
        .withColumn(
            "remainder",
            F.col(value_col) - F.col("trend") - F.col("seasonal"),
        )
        .drop("_phase", "_detr_u")
    )


def lttb_downsample(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    n_out: int = 24,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets display downsampling per series
    key (Steinarsson 2013): keep ``n_out`` visually-representative
    points — the global first and last, plus the point of maximum
    triangle area in each interior bucket.

    The reference's consumers render binned history as line graphs (the
    export protocol exists to feed a grapher; aggregation binsize is the
    grapher's pixel budget).  LTTB is the standard pixel-budget
    downsampler for that surface: unlike plain binned averages it keeps
    peaks and outage edges visible, which is exactly what a latency
    grapher needs.

    Parallel anchor variant: classic LTTB anchors each candidate
    triangle at the previously *selected* point — a sequential
    dependency.  The distributed form (Steinarsson's own fixed-anchor
    variant) anchors at the neighbouring buckets' mean points instead,
    which decouples buckets and costs two exchanges total:

    - one window on ``key`` (row_number + per-key count);
    - one map-side-combinable groupBy on ``(key, bucket)`` for bucket
      mean anchors (``keys x n_out`` rows out);
    - anchors broadcast back; the argmax-area selection window runs on
      ``(key, bucket)``, which hash(key) partitioning already satisfies
      — no further shuffle.

    The x-coordinate is the per-series row index (LTTB assumes regular
    sampling; compose with :func:`gapfill` first for sparse series), so
    bucket-mean x anchors are exact rational numbers (integer sums) and
    the y anchors are round-6 pinned — both engines then compute
    bit-identical triangle areas and the argmax is deterministic
    (ties broken by timestamp).

    Buckets with no prev/next anchor (the endpoint buckets, and every
    bucket when a series has <= n_out points) have NULL area and keep
    their first point, which for the endpoint buckets is the global
    first/last point — classic LTTB's invariant.
    """
    if n_out < 3:
        raise ValueError("n_out must be >= 3 (first + last + interior)")
    order = [ts_col] + (order_cols or [])
    w_key = Window.partitionBy(key)
    w_ord = w_key.orderBy(*order)
    rn = F.row_number().over(w_ord)
    n = F.count(F.lit(1)).over(w_key)
    df = fact.withColumn("_rn", rn).withColumn("_n", n).withColumn(
        "bucket",
        F.when(F.col("_n") <= n_out, F.col("_rn") - 1)
        .when(F.col("_rn") == 1, F.lit(0))
        .when(F.col("_rn") == F.col("_n"), F.lit(n_out - 1))
        .otherwise(
            # exact integer division (`div`), not a double `/` + cast:
            # a float quotient one ulp above an integer boundary would
            # disagree with the oracle's integer `//`
            F.expr(
                f"(CAST(_rn AS BIGINT) - 2) * {n_out - 2} "
                "div (CAST(_n AS BIGINT) - 2)"
            )
            + 1
        )
        .cast("int"),
    )
    anchors = df.groupBy(key, "bucket").agg(
        F.avg("_rn").alias("_bx"),
        F.round(F.avg(value_col), 6).alias("_by"),
    )
    w_b = Window.partitionBy(key).orderBy("bucket")
    anchors = anchors.select(
        key,
        "bucket",
        F.lag("_bx").over(w_b).alias("_px"),
        F.lag("_by").over(w_b).alias("_py"),
        F.lead("_bx").over(w_b).alias("_nx"),
        F.lead("_by").over(w_b).alias("_ny"),
    )
    # keys x n_out is keys-PROPORTIONAL: AQE broadcasts while it fits
    # (a forced hint would OOM at millions of keys, cf. seasonal join)
    scored = df.join(anchors, [key, "bucket"]).withColumn(
        "_area2",
        F.abs(
            (F.col("_px") - F.col("_nx"))
            * (F.col(value_col) - F.col("_py"))
            - (F.col("_px") - F.col("_rn").cast("double"))
            * (F.col("_ny") - F.col("_py"))
        ),
    )
    w_pick = Window.partitionBy(key, "bucket").orderBy(
        F.col("_area2").desc_nulls_last(), *order
    )
    return (
        scored.withColumn("_pick", F.row_number().over(w_pick))
        .filter(F.col("_pick") == 1)
        .drop("_rn", "_n", "_px", "_py", "_nx", "_ny", "_area2", "_pick")
    )


def time_weighted_avg(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    binsize: int = 300,
    order_cols: list[str] | None = None,
    max_carry: int | None = None,
) -> DataFrame:
    """Time-weighted average per (key, bin) under step-function (hold-
    last-value) interpolation — the consolidation semantics of the RRD
    family the reference scrapes (an RRA AVERAGE cell is the
    time-weighted mean of the step function over the cell, not the
    arithmetic mean of however many samples landed in it; reference:
    libnntsc's rrd-smokeping collection stores exactly such
    consolidated series).  Plain ``avg`` over-weights bursts of closely
    spaced samples; TWA is invariant to sampling cadence.

    Each sample holds its value from its own timestamp until the next
    sample on the key (the last sample holds to the end of its own
    bin), the hold interval is split at bin boundaries, and each bin
    averages values weighted by held seconds inside the bin.

    Scale shape: one ordered window on the key (the ``lead``), then a
    bounded ``sequence`` explode — a sample expands into one row per
    bin its hold interval touches, which is 1-2 rows whenever the
    measurement frequency is below the bin size (the NNTSC regime).
    ``max_carry`` caps the hold (seconds) so a sample preceding a long
    outage cannot explode into gap/binsize rows NOR smear a stale value
    across the outage — both the row-count guard and the honest-gap
    semantics (RRD marks such cells unknown); set it to the stream's
    expected frequency x a small slack, as RRD's heartbeat does.  The
    final per-(key, bin) groupBy is map-side combinable.  Weights are
    exact integer seconds; only the final ratio is float (round-6
    pinned).

    Output: (key, binstart, twa, covered_seconds).
    """
    binsize = int(binsize)
    order = [ts_col] + (order_cols or [])
    w_ord = Window.partitionBy(key).orderBy(*order)
    nxt = F.lead(ts_col).over(w_ord)
    # exact integer division throughout (`div`, not floor(a/b)): a float
    # quotient one ulp under an exact bin boundary would mis-bin
    bin_end_own = F.expr(
        f"(CAST(`{ts_col}` AS BIGINT) div {binsize} + 1) * {binsize}"
    )
    end = F.coalesce(nxt, bin_end_own)
    if max_carry is not None:
        end = F.least(end, F.col(ts_col) + int(max_carry))
    seg = (
        fact.select(key, *order, value_col)
        .withColumn("_end", end)
        .where(F.col("_end") > F.col(ts_col))
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.expr(f"CAST(`{ts_col}` AS BIGINT) div {binsize}"),
                    F.expr(f"(_end - 1) div {binsize}"),
                )
            ),
        )
        .withColumn(
            "_w",
            F.least(F.col("_end"), (F.col("bin") + 1) * binsize)
            - F.greatest(F.col(ts_col), F.col("bin") * binsize),
        )
    )
    return seg.groupBy(key, "bin").agg(
        F.round(
            F.sum(F.col(value_col) * F.col("_w")) / F.sum("_w"), 6
        ).alias("twa"),
        F.sum("_w").cast("long").alias("covered_seconds"),
    ).select(
        key,
        (F.col("bin") * binsize).cast("long").alias("binstart"),
        "twa",
        "covered_seconds",
    )


def hampel_filter(
    fact: DataFrame,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    order_cols: list[str] | None = None,
    half_window: int = 10,
    n_sigmas: float = 3.0,
    min_points: int = 5,
) -> DataFrame:
    """Hampel outlier filter: each point is compared against the MEDIAN
    of its centered ±``half_window`` neighborhood, with the spread
    estimated by the median absolute deviation (MAD x 1.4826, the
    consistency constant that makes MAD estimate sigma for Gaussian
    data).  ``is_outlier`` when ``|x - med| > n_sigmas * 1.4826 * MAD``;
    ``repaired`` replaces flagged points with the local median.

    This is the ROBUST sibling of :func:`rolling_zscore`: a mean/stddev
    detector is itself dragged by the spike it is trying to flag (one
    10x RTT spike inflates the stddev enough to mask its neighbors),
    while median/MAD has a 50% breakdown point — the standard cleaner
    run over latency series before smoothing/forecasting (the
    reference's downstream eventing consumes exactly such de-spiked
    NNTSC exports).

    Spark has no nested-window median-of-deviations, so the
    neighborhood travels once as a bounded ``collect_list`` frame
    (2*half_window+1 values) and both medians are array expressions
    over its sorted copy — everything JVM-side, no Python.  One shuffle
    (the window partition); per-row cost is O(w log w) with w a small
    CONSTANT, so the plan scales exactly like the other per-key ordered
    windows.  A constant neighborhood (MAD 0) flags any deviation from
    the median, matching the classic filter's behavior.

    All outputs are exact doubles — medians of observed values, their
    midpoints, and one product — so both engines reproduce the chain
    bit-for-bit with no rounding step to disagree on.
    """
    order = [ts_col] + (order_cols or [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(-int(half_window), int(half_window))
    )
    k = float(n_sigmas) * 1.4826
    # collect_list skips NULL values, so the sorted neighborhood and its
    # size n reflect observed points only
    out = fact.withColumn("_nb", F.array_sort(F.collect_list(value_col).over(w)))
    n = F.size("_nb")

    def arr_median(arr: F.Column, n: F.Column) -> F.Column:
        lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
        hi = F.element_at(arr, (n / 2 + 1).cast("int"))
        return (lo + hi) / 2

    # n > 0 guard: element_at is 1-based and ANSI-strict, and an all-NULL
    # neighborhood (possible when the key's values are sparse) collects
    # an empty array — CASE WHEN short-circuits, so the indexing never
    # runs against it
    med = F.when(n > 0, arr_median(F.col("_nb"), n))
    out = out.withColumn("_med", med)
    devs = F.array_sort(
        F.transform(F.col("_nb"), lambda v: F.abs(v - F.col("_med")))
    )
    # NO rounding on the product: med/MAD are exact array medians, so
    # the raw double chain is engine-deterministic, while round(x, 4)
    # is NOT (Spark rounds the double's exact decimal expansion HALF_UP,
    # DuckDB rounds the binary-scaled value — they disagree one ulp off
    # a .5 boundary, observed live on this operator's first oracle run)
    mad = F.when(n > 0, arr_median(devs, n))
    scale = F.lit(k) * mad
    flag = F.when(
        (n >= int(min_points)) & F.col(value_col).isNotNull(),
        F.abs(F.col(value_col) - F.col("_med")) > scale,
    )
    return (
        out.withColumn("mad_sigma", scale)
        .withColumn("is_outlier", flag)
        .withColumn(
            "repaired",
            F.when(F.col("is_outlier"), F.col("_med")).otherwise(
                F.col(value_col)
            ),
        )
        .withColumnRenamed("_med", "med")
        .drop("_nb")
    )
