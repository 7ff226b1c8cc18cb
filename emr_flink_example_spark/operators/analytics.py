"""Event-analytics and table-maintenance operators (SURVEY.md §2 Part B/C
extensions): funnel conversion, cohort retention, MERGE-style upsert, SCD2
interval building.

These are the canonical "product analytics over an event stream" and
"maintain a mutable dimension on an immutable lake" workloads. Everything is
declarative DataFrame ops; the repeated shuffle key is user_id (funnel,
cohort, SCD2) so consecutive stages reuse one hash partitioning, and the
upsert is the standard anti-join + union MERGE shape Spark executes with one
shuffle per side (AQE coalesced).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import pinned
from ..io import load

#: deterministic "change set" for the upsert demo: every 10th order surcharged,
#: every 97th cloned as a brand-new order under a shifted key
UPSERT_UPDATE_MOD = 10
UPSERT_INSERT_MOD = 97
UPSERT_KEY_SHIFT = 10_000_000


def funnel_step_times(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
) -> list[DataFrame]:
    """Strict-order funnel over ANY event frame: for each step i, the
    per-user FIRST qualifying time t_<step> — an event counts only if it is
    strictly after the user's previous step's first event. Returns one
    (user_id, t_<step>) frame per step; aggregate counts/rates from them
    (`q_funnel_conversion` is the 3-step fixture instance).

    Every stage is keyed on user_id — one partitioning reused across all
    joins and groupBys (Catalyst elides the re-shuffle of the
    already-partitioned side), so an N-step funnel is N-1 co-partitioned
    equi-joins, never a wide shuffle."""
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(event_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
    )
    out: list[DataFrame] = []
    prev_col = None
    for step in steps:
        stage = ev.where(F.col("event_type") == step)
        if prev_col is not None:
            stage = stage.join(out[-1], "user_id").where(F.col("ts") > F.col(prev_col))
        t_col = f"t_{step}"
        out.append(stage.groupBy("user_id").agg(F.min("ts").alias(t_col)))
        prev_col = t_col
    return out


def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Strict-order funnel view -> click -> purchase: a user converts a step
    only with an event strictly after their previous step's first event.

    Three groupBys and two joins, all keyed on user_id — one partitioning
    reused across every stage (Catalyst elides the re-shuffle of the
    already-partitioned side). The final count combine is three single-row
    aggregates cross-joined: nothing wide ever reaches the driver."""
    ev = load(spark, sf, "events")
    steps = funnel_step_times(ev, ["view", "click", "purchase"])
    t_view, t_click, t_purchase = steps
    return (
        t_view.agg(F.count("*").alias("n_viewed"))
        .crossJoin(t_click.agg(F.count("*").alias("n_clicked")))
        .crossJoin(t_purchase.agg(F.count("*").alias("n_purchased")))
        .select(
            "n_viewed",
            "n_clicked",
            "n_purchased",
            # try_divide: an empty funnel stage (0 denominator — routine on a
            # pruned/fresh partition) yields NULL rates, not a query crash
            F.round(F.try_divide("n_clicked", "n_viewed"), 6).alias("view_to_click"),
            F.round(F.try_divide("n_purchased", "n_clicked"), 6).alias("click_to_purchase"),
            F.round(F.try_divide("n_purchased", "n_viewed"), 6).alias("overall"),
        )
    )


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, activity
    counted per day-offset from that cohort day.

    Both phases shuffle on user_id only; the cohort join is a co-partitioned
    equi-join (first-seen is tiny relative to activity but still user-keyed,
    so no broadcast needed for correctness at any scale)."""
    return cohort_retention(load(spark, sf, "events"))


def cohort_retention(
    events: DataFrame, *, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Cohort retention triangle over ANY (user, timestamp) event frame —
    (cohort_day, offset_days, n_active_users); shape notes in
    `q_cohort_retention`."""
    ev = events.select(
        F.col(user_col).alias("user_id"), F.col(ts_col).cast("date").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("offset_days"))
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO without a table format: base rows not in the change set
    pass through (anti-join), matched keys take the update's values, and
    new keys append — one union of three branches, each a plain shuffle
    join on the merge key. The same shape a foreachBatch CDC-apply job uses
    when Delta/Iceberg isn't available (SURVEY.md §2 A16's batch analogue).

    The change set is synthesized deterministically from `orders` so the
    DuckDB oracle reproduces it exactly (the re-price is an exact-in-binary
    +50.00 surcharge: 2-decimal doubles stay 2-decimal, so the final round
    never lands on a .xx5 half-case that Spark and DuckDB break differently)."""
    base = load(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (
        base.where(F.col("o_orderkey") % UPSERT_UPDATE_MOD == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 50.0).alias("o_totalprice"),
        )
    )
    inserts = (
        base.where(F.col("o_orderkey") % UPSERT_INSERT_MOD == 0)
        .select(
            (F.col("o_orderkey") + UPSERT_KEY_SHIFT).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice"),
        )
    )
    untouched = base.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
    merged = untouched.unionByName(updates).unionByName(inserts)
    return merged.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def q_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history build: each user's event stream becomes half-open
    validity intervals [valid_from, valid_to) via lead() over the per-user
    order; the open row (valid_to IS NULL) is flagged current.

    One window over (user_id, ts, event_id) — a single shuffle+sort, the
    minimal cost for interval construction; no self-join."""
    ev = load(spark, sf, "events").select("user_id", "event_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


#: inactivity gap that closes a session (the classic 30 minutes)
SESSION_GAP_SECONDS = 1800


def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Batch gap-based sessionization: a user's events split into sessions
    wherever the gap to the previous event exceeds SESSION_GAP_SECONDS;
    one output row per session with start/end/size/duration. The batch twin
    of the streaming `session_window` query (event_time.py) — same
    semantics, but over the whole history with exact output.

    One Exchange on user_id serves both windows (lag for the gap flag, the
    running sum that turns flags into session ordinals — same partition,
    same sort, Catalyst plans one Window node pair over one sort); the
    session rollup then groups by (user_id, session_id), which AQE executes
    off the same partitioning lineage. Gap arithmetic is integer
    microseconds (unix_micros / epoch_us) — exact and engine-portable,
    no interval types."""
    ev = load(spark, sf, "events")
    return sessionize(ev, gap_seconds=SESSION_GAP_SECONDS)


def sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = SESSION_GAP_SECONDS,
) -> DataFrame:
    """Gap-based sessionization of ANY (user, event-id, timestamp) frame —
    (user_id, session_id, session_start, session_end, n_events,
    duration_secs); semantics and plan-shape notes in
    `q_sessionize_events`. `id_col` breaks ordering ties among same-
    timestamp events so sessions are deterministic."""
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.col(ts_col).alias("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    # events.ts is TIMESTAMP_NTZ (io.load nanos conversion); unix_micros
    # needs TIMESTAMP — the cast is exact because the session tz is pinned UTC
    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    gap_us = us(F.col("ts")) - us(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        ((us(F.max("ts")) - us(F.min("ts"))) / 1_000_000).alias("duration_secs"),
    )


#: z-order parameters: 16 bits per dimension; files span 2^18 z-cells (at
#: the test SFs that yields ~15 files — at a real scale, derive the shift
#: from target rows-per-file exactly like the LSH plane count).
ZORDER_BITS = 16
ZORDER_FILE_SHIFT = 18


def _interleave_bits_sql(x: str, y: str, bits: int) -> str:
    """Morton/Z-value: bit-interleave two `bits`-bit ints (x even positions,
    y odd) — identical in Spark and DuckDB. Bit placement MULTIPLIES by a
    precomputed power-of-two literal instead of shifting: `1 << 31` on an
    INT32 operand overflows (wraps in Spark, errors in DuckDB — found by
    tests/test_fuzz_r2.py), while literals >= 2^31 parse as 64-bit in both
    engines, making the expression safe for any integer operand type."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


def q_layout_zorder_files(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton-curve) file layout for multi-dimensional scan pruning:
    orders are assigned a z-value interleaving customer-key and order-date
    bits, then grouped into files of contiguous z-ranges; the output is the
    per-file manifest (row count + min/max of BOTH dimensions) — exactly the
    min/max column statistics a lake format would keep, demonstrating that
    each file covers a narrow range in customer AND date simultaneously, so
    a predicate on either dimension prunes most files.

    This is the data-LAYOUT operator a 100 TB table needs: linear-order
    sorting clusters one column at the expense of the other, while the
    z-curve bounds both; writing is `repartitionByRange(zval)` +
    `sortWithinPartitions(zval)` (one range shuffle — identical cost to a
    plain sort). Pure integer bit arithmetic end-to-end: engine-exact."""
    orders = load(spark, sf, "orders")
    x = f"(o_custkey % {1 << ZORDER_BITS})"
    # cast: Spark datediff returns INT32 — bit 15 set (day 32768+) would
    # otherwise widen differently than DuckDB's int64 date_diff
    y = f"(cast(datediff(o_orderdate, DATE'1992-01-01') as bigint) % {1 << ZORDER_BITS})"
    z = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.expr(_interleave_bits_sql(x, y, ZORDER_BITS)).alias("zval"),
    )
    return z.groupBy(F.expr(f"zval div {1 << ZORDER_FILE_SHIFT}").alias("file_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("o_custkey").alias("custkey_min"),
        F.max("o_custkey").alias("custkey_max"),
        F.min("o_orderdate").alias("date_min"),
        F.max("o_orderdate").alias("date_max"),
    )


def q_event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    count and probability of each (from_type -> to_type) step, ordered
    within user by (ts, event_id) so ties are deterministic.

    Shape: ONE user_id exchange feeds the lag window (the sessionize
    pattern); the (from, to) aggregate that follows is |types|² rows, and
    the per-from normalization runs as a window over that tiny aggregate —
    at 100 TB nothing after the first exchange scales with the event
    count. The probability is a ratio of exact integers rounded to 6, so
    both engines agree bit-for-bit."""
    return transition_matrix(load(spark, sf, "events"))


def transition_matrix(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov (from, to) transition counts + probabilities
    over ANY per-user typed event frame — deterministic (ts, id) order;
    plan notes in `q_event_transition_matrix`."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    trans = df.select(
        F.lag(type_col).over(w).alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(w_from),
            6,
        ).alias("p_transition"),
    )


#: attribution horizon: touches within 7 days before the purchase get
#: credit; linear credit is carried in integer micro units (floor(x+0.5))
#: so fractional 1/n splits are engine-exact.
ATTR_HORIZON_DAYS = 7


def q_attribution_multitouch(spark: SparkSession, sf: str) -> DataFrame:
    """Marketing-style multi-touch attribution over the event stream:
    every purchase credits the non-purchase events ("touches") by the
    same user in the preceding ATTR_HORIZON_DAYS — last-touch count,
    first-touch count, and linear credit (1/n per touch) summed per touch
    event_type. The three classic attribution models off ONE join.

    Shape: one equi-join on user_id with the horizon as a time residual
    (the fact-fact shuffle is keyed on user_id only — at 100 TB this is
    the sessionize partitioning, reused), then both row_number ranks and
    the per-purchase touch count ride a single window partition
    (purchase id) — one sort services all three models. Linear credit is
    integer micro units via floor(1e6/n + 0.5): exact in both engines,
    the quality_fasttext_gate lesson applied."""
    ev = load(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"),
    )
    joined = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.col("t_ts")
            > F.col("p_ts") - F.expr(f"INTERVAL {ATTR_HORIZON_DAYS} DAYS")
        ),
    )
    w_last = Window.partitionBy("p_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").asc()
    )
    w_first = Window.partitionBy("p_id").orderBy(
        F.col("t_ts").asc(), F.col("t_id").asc()
    )
    w_n = Window.partitionBy("p_id")
    scored = joined.select(
        "touch_type",
        F.row_number().over(w_last).alias("r_last"),
        F.row_number().over(w_first).alias("r_first"),
        F.count("*").over(w_n).alias("n_touches"),
    )
    return (
        scored.groupBy("touch_type")
        .agg(
            F.sum(F.when(F.col("r_last") == 1, 1).otherwise(0)).alias(
                "last_touch"
            ),
            F.sum(F.when(F.col("r_first") == 1, 1).otherwise(0)).alias(
                "first_touch"
            ),
            F.sum(
                F.floor(F.lit(1000000.0) / F.col("n_touches") + 0.5).cast(
                    "bigint"
                )
            ).alias("linear_micro"),
        )
        .orderBy("touch_type")
    )


#: pruning-audit probe grid: 8 relative custkey ranges + 8 date quarters
PRUNE_N_PROBES = 8


def q_manifest_prune_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Data-skipping effectiveness audit: replay a grid of single-column
    range predicates against the z-order layout's per-file min/max
    manifests (the statistics a lake format keeps) and report how many
    files — and rows — each probe would have to touch. This is the
    measurement that justifies (or indicts) a table's clustering: a
    predicate on EITHER z-order dimension should prune most files, and
    this query proves it with numbers.

    Probe grid: 8 custkey ranges placed RELATIVE to max(custkey) (integer
    arithmetic off one broadcast scalar, so the probe set is scale-free
    across SFs) and 8 calendar quarters from 1994-01-01 (TPC-H's date
    span is SF-independent). A file is touched unless its [min,max]
    interval is disjoint from the probe — exactly the pruning rule an
    engine applies, all integer/date compares.

    Scale shape: ONE scan builds the manifest (same rollup as
    layout_zorder_files); everything after operates on |files| x |probes|
    rows — manifest-sized, not data-sized, which is the whole point of
    manifests."""
    orders = load(spark, sf, "orders")
    x = f"(o_custkey % {1 << ZORDER_BITS})"
    y = f"(cast(datediff(o_orderdate, DATE'1992-01-01') as bigint) % {1 << ZORDER_BITS})"
    z = orders.select(
        "o_custkey",
        "o_orderdate",
        F.expr(_interleave_bits_sql(x, y, ZORDER_BITS)).alias("zval"),
    )
    mf = z.groupBy(
        F.expr(f"zval div {1 << ZORDER_FILE_SHIFT}").alias("file_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("o_custkey").alias("ck_min"),
        F.max("o_custkey").alias("ck_max"),
        F.min("o_orderdate").alias("dt_min"),
        F.max("o_orderdate").alias("dt_max"),
    )
    mck = orders.groupBy().agg(F.max("o_custkey").alias("m"))
    ck_probes = (
        spark.range(PRUNE_N_PROBES)
        .crossJoin(F.broadcast(mck))
        .select(
            F.col("id").cast("int").alias("probe_id"),
            F.expr(f"(id * m) div {PRUNE_N_PROBES}").alias("lo"),
            F.expr(
                f"(id * m) div {PRUNE_N_PROBES} + m div {2 * PRUNE_N_PROBES}"
            ).alias("hi"),
        )
    )
    dt_probes = spark.range(PRUNE_N_PROBES).select(
        F.col("id").cast("int").alias("probe_id"),
        F.expr("add_months(DATE'1994-01-01', cast(3 * id as int))").alias("lo"),
        F.expr(
            "date_sub(add_months(DATE'1994-01-01', cast(3 * (id + 1) as int)), 1)"
        ).alias("hi"),
    )
    ck = mf.crossJoin(F.broadcast(ck_probes)).select(
        F.lit("custkey").alias("dim"),
        "probe_id",
        "n_rows",
        (~((F.col("ck_max") < F.col("lo")) | (F.col("ck_min") > F.col("hi")))).alias(
            "touched"
        ),
    )
    dt = mf.crossJoin(F.broadcast(dt_probes)).select(
        F.lit("orderdate").alias("dim"),
        "probe_id",
        "n_rows",
        (~((F.col("dt_max") < F.col("lo")) | (F.col("dt_min") > F.col("hi")))).alias(
            "touched"
        ),
    )
    return (
        ck.union(dt)
        .groupBy("dim", "probe_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.when(F.col("touched"), 1).otherwise(0)).alias("n_files_touched"),
            F.sum(F.when(F.col("touched"), F.col("n_rows")).otherwise(0)).alias(
                "n_rows_touched"
            ),
        )
    )



#: two-sided 5% critical value for the two-proportion z-test, micro units
ABTEST_Z_CRIT_MICRO = 1_959_964


def q_abtest_proportion_ztest(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test between a deterministic 50/50 user split
    (variant = user_id % 2): did arm A convert (>= 1 purchase event)
    at a different rate than arm B? The experiment-analysis primitive an
    event pipeline serves — pooled-variance z statistic plus a two-sided
    5% verdict.

    Determinism discipline: counts are exact integers from one user-level
    aggregate; the z statistic is a fixed IEEE expression over those four
    integers (sqrt is correctly rounded, and the division/multiplication
    order is written identically in both engines), shipped as
    floor(z * 1e6 + 0.5) micro units; significance compares the micro
    integer against the integer critical value — no float threshold.

    Scale shape: ONE shuffle to per-user conversion flags (map-side
    combinable max), then a 2-row aggregate folded to one row. Nothing
    data-sized leaves the aggregate."""
    events = load(spark, sf, "events")
    users = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    return proportion_ztest(users)


def proportion_ztest(
    assignments: DataFrame,
    *,
    variant_col: str = "arm",
    converted_col: str = "converted",
) -> DataFrame:
    """Two-proportion z-test over ANY unit-level frame with a 0/1 arm
    column and a 0/1 conversion column — one row (n_a, conv_a, n_b,
    conv_b, z_micro, significant), arm 0 = A. Determinism and plan notes
    in `q_abtest_proportion_ztest`."""
    g = assignments.groupBy().agg(
        F.sum(F.when(F.col(variant_col) == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(
            F.when(F.col(variant_col) == 0, F.col(converted_col)).otherwise(0)
        ).alias("conv_a"),
        F.sum(F.when(F.col(variant_col) == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col(variant_col) == 1, F.col(converted_col)).otherwise(0)
        ).alias("conv_b"),
    )
    # degenerate arms (empty, or 0%/100% pooled conversion) have no
    # variance: z is NULL, verdict false — guarded BEFORE any division so
    # ANSI mode never trips
    z = F.expr(
        "case when n_a > 0 and n_b > 0"
        " and conv_a + conv_b > 0 and conv_a + conv_b < n_a + n_b then"
        " (cast(conv_a as double) / n_a - cast(conv_b as double) / n_b)"
        " / sqrt((cast(conv_a + conv_b as double) / (n_a + n_b))"
        " * (1.0 - cast(conv_a + conv_b as double) / (n_a + n_b))"
        " * (1.0 / n_a + 1.0 / n_b)) end"
    )
    zm = F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return g.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        zm.alias("z_micro"),
        F.coalesce(
            F.abs(zm) >= ABTEST_Z_CRIT_MICRO, F.lit(False)
        ).alias("significant"),
    )



#: CDC diff: keys divisible by this are dropped from the new snapshot
CDC_DELETE_MOD = 101


def q_table_change_log(spark: SparkSession, sf: str) -> DataFrame:
    """CDC change-log extraction between two table snapshots: the inverse
    of merge_upsert. Snapshot B applies the same deterministic update /
    insert set as q_merge_upsert plus a deletion set (keys % 101 == 0);
    the change log is ONE full outer join of the snapshots on the key with
    a column-value compare, classifying every key as inserted / deleted /
    updated / unchanged — the diff a lakehouse emits between commits when
    no change feed was captured, and the input a downstream incremental
    job consumes.

    Output is the per-class census (row count, key checksum, repriced
    money delta) so the whole diff is hash-verified without shipping 15k
    diff rows. Money stays in the +50.00-surcharge exact-in-binary regime
    merge_upsert established; the final sums round once.

    Scale shape: one key-partitioned full outer join (both sides shuffle
    on the key — colocated, no skew: keys are unique per side), then a
    4-row aggregate. Nothing else moves."""
    base = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = q_merge_upsert(spark, sf).where(
        F.col("o_orderkey") % CDC_DELETE_MOD != 0
    )
    a = base.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status_a"),
        F.col("o_totalprice").alias("price_a"),
    )
    bside = snap_b.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status_b"),
        F.col("o_totalprice").alias("price_b"),
    )
    joined = a.join(bside, "key", "full_outer")
    change = (
        F.when(F.col("status_a").isNull(), "inserted")
        .when(F.col("status_b").isNull(), "deleted")
        .when(
            (F.col("status_a") != F.col("status_b"))
            | (F.col("price_a") != F.col("price_b")),
            "updated",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            change.alias("change_type"),
            "key",
            (F.coalesce("price_b", F.lit(0.0)) - F.coalesce("price_a", F.lit(0.0))).alias(
                "delta"
            ),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("key").alias("key_checksum"),
            F.round(F.sum("delta"), 2).alias("price_delta"),
        )
    )



def q_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning over hourly ingestion partitions:
    the streaming pipelines roll one file per (hour) bucket (SURVEY §2
    A7-A10), so traffic variance leaves below-average files behind; this
    planner bins consecutive below-average hours into merge groups filled
    to ~4x the average — the batch view of the maintenance the streaming
    side executes for real in streaming/compaction.py, hash-verified.

    Determinism: thresholds are integer aggregates (avg = total div
    n_files); bin assignment is ((cumsum - n_rows) div (4*avg)) over the
    hour order — all integer, both engines bit-equal.

    Scale shape: ONE scan rolls events to hourly counts; planning then
    runs on |files| rows (manifest-sized — exactly what a table service's
    planner holds). The cumulative window is unpartitioned but ordered
    over file COUNTS, not row counts."""
    events = load(spark, sf, "events")
    mf = events.groupBy(F.date_trunc("hour", "ts").alias("file_hour")).agg(
        F.count("*").alias("n_rows")
    )
    stats = mf.groupBy().agg(
        F.expr("sum(n_rows) div count(*)").alias("avg_rows")
    )
    small = (
        mf.crossJoin(F.broadcast(stats))
        .where(F.col("n_rows") < F.col("avg_rows"))
    )
    wcum = Window.orderBy("file_hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = small.select(
        "file_hour",
        "n_rows",
        # integer div (not float /) so the bin cut is exact like the oracle
        F.expr(
            "(sum(n_rows) over (order by file_hour rows between unbounded"
            " preceding and current row) - n_rows) div (4 * avg_rows)"
        ).alias("bin_id"),
    )
    return binned.groupBy("bin_id").agg(
        F.count("*").alias("n_files_merged"),
        F.sum("n_rows").alias("rows_total"),
        F.min("file_hour").alias("hour_min"),
        F.max("file_hour").alias("hour_max"),
    )


def q_abtest_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) on purchase
    VALUES between the deterministic 50/50 arms (user_id % 2) — the
    nonparametric companion to `abtest_proportion_ztest`: conversion may
    match while the spend DISTRIBUTION shifts, and rank tests see that
    without assuming normality of heavy-tailed revenue.

    Determinism discipline: ranks come from the DISTINCT-value table with
    exact tie handling — a value occupying ranks cum+1..cum+t has average
    rank (2*cum + t + 1)/2, so DOUBLED rank sums stay integer. U, the tie
    term sum(t^3 - t), and all counts are exact integers; only the final z
    is a fixed IEEE expression over those integers (sqrt correctly
    rounded, written identically in both engines), shipped as
    floor(z * 1e6 + 0.5) micros with the integer critical-value compare.
    Degenerate cases (an empty arm, or every observation tied — zero
    variance) yield NULL z / false BEFORE any division, ANSI-safe.

    int64-headroom guard (ENFORCED, the ACF/Kneser-Ney discipline): the
    tie term sums t^3 per distinct value — with t_max-fold ties it wraps
    silently in Spark's non-ANSI bigint at t_max ~ 2^21 tied
    observations (trivially reachable for discrete metrics at corpus
    scale), and the doubled rank sum is bounded by 2n^2 (wraps at
    n ~ 1.5e9 observations). Both bounds are checked on PRE-aggregation
    quantities that cannot themselves overflow (t_max, n) via log2 on
    identical integer-fed doubles: sum(t^3) <= t_max^2 * n and
    2n^2 need 2*log2(t_max) + log2(n) < 62 and 1 + 2*log2(n) < 62.
    A tripped guard NULLs u2_a/tie_t/z_micro LOUDLY (headroom_ok =
    false, significant = false) rather than reporting wrapped garbage;
    the oracle mirrors the same guard (DuckDB's HUGEINT sums don't wrap,
    but the ::BIGINT cast would error — the CASE avoids it identically).

    Scale shape: one combine-friendly aggregate to the distinct-value
    table (|distinct metric values| rows, not events), one running-sum
    window over that aggregated table ordered by value (the same
    sorted-aggregate discipline as vocab_coverage), one final 1-row fold.
    Nothing event-sized is sorted."""
    events = load(spark, sf, "events")
    obs = events.where(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("arm"), "value"
    )
    return mann_whitney(obs)


def mann_whitney(
    values: DataFrame,
    *,
    variant_col: str = "arm",
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U rank-sum z-test between arms 0/1 of ANY (arm,
    value) observation frame — one row (n_a, n_b, u2_a, tie_t, z_micro,
    significant, headroom_ok), arm 0 = A. Exact tie handling, headroom
    guard, and plan notes in `q_abtest_mann_whitney`."""
    vals = (
        values
        # complete-case: an observation with unknown value or unknown arm
        # cannot be ranked or assigned (also keeps the rank window's cum
        # base engine-identical — Spark sorts NULLs first, DuckDB last)
        .where(F.col(value_col).isNotNull() & F.col(variant_col).isNotNull())
        .select(
            F.col(value_col).alias("v"),
            (F.col(variant_col) == 0).cast("int").alias("is_a"),
        )
        .groupBy("v")
        .agg(F.count("*").alias("t"), F.sum("is_a").alias("ta"))
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.withColumn("cum", F.coalesce(F.sum("t").over(w_cum), F.lit(0)))
    # try_* keeps the guard's NULL-LOUDLY contract under ANSI: past the
    # headroom bound the raw product/sum would THROW before the guard CASE
    # ever evaluates (the oracle's HUGEINT+gated-cast is the mirror);
    # inside the bound try_* is bit-identical to the exact ops
    g = ranked.agg(
        F.sum("ta").alias("n_a"),
        F.sum(F.col("t") - F.col("ta")).alias("n_b"),
        F.expr(
            "try_sum(try_multiply(ta, 2 * cum + t + 1))"
        ).alias("r2_a"),
        F.expr(
            "try_sum(try_subtract(try_multiply(try_multiply(t, t), t), t))"
        ).alias("tie_t"),
        F.max("t").alias("t_max"),
    )
    # 2*U_A = (doubled rank sum of arm A) - n_a*(n_a+1); mean(2U) = n_a*n_b
    g = g.withColumn(
        "u2_a", F.expr("try_subtract(r2_a, try_multiply(n_a, n_a + 1))")
    )
    # headroom guard on pre-aggregation bounds (see docstring): overflow
    # CANNOT be detected after the fact (Spark wraps silently), so the
    # decision reads only t_max and n, which are exact at any scale
    ok = F.expr(
        "case when n_a is null or n_a + n_b = 0 then true else"
        " 2.0 * log2(cast(t_max as double)) + log2(cast(n_a + n_b as double)) < 62.0"
        " and 1.0 + 2.0 * log2(cast(n_a + n_b as double)) < 62.0 end"
    )
    z = F.expr(
        "case when n_a > 0 and n_b > 0 and"
        " (n_a + n_b + 1.0) - cast(tie_t as double)"
        " / (cast(n_a + n_b as double) * (n_a + n_b - 1.0)) > 0.0 then"
        " cast(u2_a - n_a * n_b as double)"
        " / sqrt((cast(n_a as double) * cast(n_b as double) / 3.0)"
        " * ((n_a + n_b + 1.0) - cast(tie_t as double)"
        " / (cast(n_a + n_b as double) * (n_a + n_b - 1.0)))) end"
    )
    zm = F.when(ok, F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return g.select(
        "n_a",
        "n_b",
        F.when(ok, F.col("u2_a")).alias("u2_a"),
        F.when(ok, F.col("tie_t")).alias("tie_t"),
        zm.alias("z_micro"),
        F.coalesce(F.abs(zm) >= ABTEST_Z_CRIT_MICRO, F.lit(False)).alias(
            "significant"
        ),
        ok.alias("headroom_ok"),
    )


#: Markov attribution: fixed absorption-iteration budget (the output is
#: DEFINED as the K-th integer-micro iterate, like every unrollable
#: recurrence in this repo — convergence is a property, not the contract)
MARKOV_ITERS = 10


def _markov_solve(
    counts: dict[tuple[str, str], int], channels: list[str]
) -> dict[str, int]:
    """P(absorb in CONV | start) per scenario, in integer micros, after
    MARKOV_ITERS rounds of  p(s) <- floor(sum_t c(s,t) * pv(t) / r(s))
    with pv(CONV)=1e6, pv(END)=0, pv(removed channel)=0.

    Pure-Python EXACT integer arithmetic — the same floor-of-rational the
    DuckDB oracle's unrolled CTE rounds compute, so both engines produce
    the identical iterate bit-for-bit. Returns {scenario: p(START)} for
    scenario 'base' plus one per removed channel."""
    froms = sorted({s for s, _ in counts})
    totals = {s: sum(n for (f, _), n in counts.items() if f == s) for s in froms}
    out: dict[str, int] = {}
    for scenario in ["base"] + channels:
        p = {ch: 0 for ch in channels}
        for _ in range(MARKOV_ITERS):
            nxt = {}
            for s in froms:
                if s == scenario:
                    continue
                acc = 0
                for (f, t), n in counts.items():
                    if f != s:
                        continue
                    if t == "CONV":
                        acc += n * 1_000_000
                    elif t == "END" or t == scenario:
                        pass
                    else:
                        acc += n * p.get(t, 0)
                nxt[s] = acc // totals[s]
            start_p = nxt.get("START", 0)
            for ch in channels:
                p[ch] = 0 if ch == scenario else nxt.get(ch, 0)
        out[scenario] = start_p
    return out


def q_attribution_markov_removal(spark: SparkSession, sf: str) -> DataFrame:
    """Markov-chain data-driven attribution (Anderl, Becker, v. Wangenheim
    & Schumann 2014): model each user's pre-purchase journey as a
    first-order chain over event-type channels, and credit a channel by
    its REMOVAL EFFECT — how much the absorption probability into
    conversion drops when every transition into that channel is diverted
    to a non-converting exit. The model marketers actually want instead
    of positional heuristics: `attribution_multitouch`'s last/first/
    linear splits ignore HOW a touch changes the path; this one prices it.

    Journeys: per user, events ordered by (ts, event_id), truncated at the
    first purchase (relabeled CONV, absorbing); START opens every journey,
    journeys without a purchase close with END (absorbing). Absorption
    probabilities are the MARKOV_ITERS-th iterate of the integer-micro
    fixed-point recurrence (see _markov_solve) — exact rationals floored
    per round, so Spark's collected-counts solve and the oracle's unrolled
    CTE rounds agree bit-for-bit. removal_effect = 1e6 - (1e6*p_rem)//p_base
    (monotone: removing paths can only lower absorption), and the share
    normalizes removal effects across channels, both floored.

    Scale shape: ONE user_id exchange for the journey window (the
    sessionize/transition-matrix pattern); everything after is the
    (from,to) count aggregate — at most (|event types|+1)^2 cells, a
    CARDINALITY-bounded table (the PartitionCommitter collect_set
    argument), collected and solved driver-side exactly like the k-means/
    BPE trainers train on bounded aggregates. Nothing data-sized leaves
    the executors."""
    events = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # a channel-less (NULL event_type) touch cannot be credited — it is
    # excluded BEFORE sequencing so journeys skip it (oracle mirrored)
    seqd = events.where(F.col("event_type").isNotNull()).select(
        "user_id",
        F.col("event_type").alias("et"),
        F.row_number().over(w).alias("seq"),
    )
    wu = Window.partitionBy("user_id")
    marked = seqd.withColumn(
        "psq", F.min(F.when(F.col("et") == "purchase", F.col("seq"))).over(wu)
    ).withColumn("maxseq", F.max("seq").over(wu))
    kept = marked.where(
        F.col("psq").isNull() | (F.col("seq") <= F.col("psq"))
    ).withColumn("lbl", F.when(F.col("et") == "purchase", "CONV").otherwise(F.col("et")))
    wk = Window.partitionBy("user_id").orderBy("seq")
    steps = kept.select(
        F.coalesce(F.lag("lbl").over(wk), F.lit("START")).alias("from_type"),
        F.col("lbl").alias("to_type"),
    )
    ends = kept.where(
        F.col("psq").isNull() & (F.col("seq") == F.col("maxseq"))
    ).select(F.col("lbl").alias("from_type"), F.lit("END").alias("to_type"))
    counts_rows = (
        steps.unionByName(ends)
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
        .collect()
    )
    counts = {(r["from_type"], r["to_type"]): r["n_trans"] for r in counts_rows}
    channels = sorted(
        {t for _, t in counts if t not in ("CONV", "END")}
        | {s for s, _ in counts if s not in ("START",)}
    )
    solved = _markov_solve(counts, channels)
    base = solved["base"]
    re = {
        ch: (1_000_000 - (1_000_000 * solved[ch]) // base) if base > 0 else None
        for ch in channels
    }
    re_sum = sum(v for v in re.values() if v is not None)
    rows = [
        (
            ch,
            base,
            solved[ch],
            re[ch],
            (1_000_000 * re[ch]) // re_sum
            if re[ch] is not None and re_sum > 0
            else None,
        )
        for ch in channels
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_conv_micro bigint, removed_conv_micro bigint,"
        " removal_effect_micro bigint, attribution_share_micro bigint",
    )


def q_sketch_minhash_bbit(spark: SparkSession, sf: str) -> DataFrame:
    """b-bit minhash calibration (Li & König 2010, b=1): store only the
    LOWEST BIT of each of the 16 minhash values — a 64x signature
    compression (16x64-bit words -> 16 bits) — and audit what the cheap
    sketch costs in estimator quality. For resemblance J, matching
    lowest bits happen with probability (1+J)/2 (+O(1/|vocab|)), so
    J_1bit = 2*agree/16 - 1 (clamped at 0); the report puts the 1-bit
    estimate next to the full 16-perm estimate per LSH candidate pair —
    the measurement behind choosing b when signature storage itself is
    the bottleneck at 100 TB (Li & König's original motivation).

    Determinism: bit agreement is integer; both estimates are exact
    dyadic rationals (k/16, (k-8)/8) so round(.,6) is decoration, not a
    boundary. Lives in analytics (not dedup/textstats) because the
    module chain analytics -> dedup -> textstats is acyclic AND the
    dedup module's QUERIES dict sits inside the driver's checked
    50-query prefix, which tail-appends must not shift.

    Scale shape: candidate pairs come from the banded LSH plan (one
    corpus scan, skew-guarded); signatures join back pair-bounded; the
    bit comparison is a 16-element map-side fold."""
    from ..cache import pinned
    from .dedup import N_PERMS, _minhash_signatures, _pairs_from_sigs

    # persisted: the a/b sides are distinct projections of one signature
    # frame (no ReusedExchange) — the minhash_calibration precedent.
    # r14: the LSH candidate pairs ALSO derive from this pinned frame
    # (_pairs_from_sigs), so the tokenize->shingle->minhash chain runs
    # once, not twice (q_dedup_minhash_lsh rebuilt it from the corpus).
    sig = _minhash_signatures(spark, sf).transform(pinned)
    pairs = _pairs_from_sigs(sig).select("doc_a", "doc_b", "est_jaccard")
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    onebit = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> (x % 2) = (y % 2)), v -> v))"
    )
    est1 = F.round(
        F.greatest(
            F.lit(0.0),
            (onebit.cast("double") * 2.0 / N_PERMS) - 1.0,
        ),
        6,
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            onebit.alias("onebit_agree"),
            est1.alias("est_jaccard_1bit"),
            F.round(F.abs(est1 - F.col("est_jaccard")), 6).alias("abs_err_vs_full"),
        )
    )


def q_abtest_wilson_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Wilson score interval (Wilson 1927) for each arm's conversion rate
    — the small-sample-honest CI the normal approximation gets wrong near
    0/1, and the per-arm companion to the two-arm z tests: report each
    arm's rate WITH its uncertainty, not just the contrast.

        center = (p + z^2/2n) / (1 + z^2/n),
        half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    Determinism: conversion counts are exact integers from one user-level
    aggregate; the interval is a fixed IEEE expression over (conv, n) with
    z^2 = 1.959964^2 written as the same literal in both engines (sqrt
    correctly rounded), floored once to micros. Empty arms yield NULL
    bounds before any division.

    Scale shape: one combine-friendly user aggregate, one 2-row rollup —
    nothing data-sized past the first shuffle."""
    events = load(spark, sf, "events")
    users = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    return wilson_ci(users)


def wilson_ci(
    assignments: DataFrame,
    *,
    variant_col: str = "arm",
    converted_col: str = "converted",
) -> DataFrame:
    """Per-arm Wilson 95% score interval over ANY unit-level frame with an
    arm column and a 0/1 conversion column — one row per arm (arm,
    n_users, n_converted, wilson_lo_micro, wilson_hi_micro); see
    `q_abtest_wilson_ci` for the formula and determinism notes."""
    arms = assignments.groupBy(
        F.col(variant_col).cast("int").alias("arm")
    ).agg(
        F.count("*").alias("n_users"),
        F.sum(converted_col).alias("n_converted"),
    )
    z = "1.959964"
    expr_tpl = (
        "case when n_users > 0 then cast(floor(("
        " (cast(n_converted as double) / n_users"
        "  + {z} * {z} / (2.0 * n_users)) {sign}"
        " {z} * sqrt(cast(n_converted as double) / n_users"
        "            * (1.0 - cast(n_converted as double) / n_users) / n_users"
        "            + {z} * {z} / (4.0 * n_users * n_users))"
        ") / (1.0 + {z} * {z} / n_users) * 1000000 + 0.5) as bigint) end"
    )
    return arms.select(
        "arm",
        "n_users",
        "n_converted",
        F.expr(expr_tpl.format(z=z, sign="-")).alias("wilson_lo_micro"),
        F.expr(expr_tpl.format(z=z, sign="+")).alias("wilson_hi_micro"),
    )


def _benford_expect() -> list[tuple[int, int]]:
    """(digit, floor(log10(1 + 1/d) * 1e6 + 0.5)) for d in 1..9 —
    precomputed in Python and shipped to BOTH engines as a literal table
    (the _aa_weights discipline: log10 is not IEEE-correctly-rounded, so
    engine-side evaluation could differ in the last ulp)."""
    import math

    return [
        (d, int(math.floor(math.log10(1 + 1 / d) * 1_000_000 + 0.5)))
        for d in range(1, 10)
    ]


def q_benford_digit_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit conformity audit (Newcomb 1881; Benford 1938;
    the Nigrini 2012 forensic-accounting screen) over order totals: the
    leading significant digit of naturally-occurring amounts should
    follow log10(1+1/d), and a per-digit deviation profile is the
    cheapest data-quality fingerprint for detecting fabricated, clipped,
    or unit-mangled monetary columns in an ingested table.

    Determinism: prices quantize to exact integer cents (2-decimal
    fixture regime), the leading digit reads from the BIGINT's decimal
    string (engine-identical for integers — never from a double's
    formatting), observed frequencies are integer micro-means, and the
    expectation table is a Python-precomputed literal (log10 is not
    correctly-rounded, the _aa_weights argument). abs deviation stays in
    exact integers.

    Scale shape: leading-digit extraction is map-side; one 9-row
    combine-friendly aggregate; the expectation attaches by broadcast to
    a 9-row frame. Output is 9 rows at any corpus size.

    int64-headroom guard (ENFORCED, r9): the 2e6x micro scaling of
    n_obs wraps once n_total exceeds (2^63-1)/2000001 ~ 4.61e12 rows;
    the frequency CASEs require n_total <= that bound (an exact bigint
    compare on a count that cannot itself overflow) and NULL the micro
    columns loudly past it, mirrored in the oracle."""
    return benford_audit(load(spark, sf, "orders"), value_col="o_totalprice")


def benford_audit(df: DataFrame, *, value_col: str) -> DataFrame:
    """Benford first-digit deviation profile of ANY positive monetary
    column — 9 rows (digit, n_obs, benford_micro, obs_freq_micro,
    abs_dev_micro); quantization, guard, and scale notes in
    `q_benford_digit_audit`."""
    orders = df.where(F.col(value_col) > 0)
    digit = F.expr(
        f"cast(substring(cast(cast(floor({value_col} * 100 + 0.5) as bigint)"
        " as string), 1, 1) as int)"
    )
    obs = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    exp_df = df.sparkSession.createDataFrame(
        _benford_expect(), "digit int, benford_micro bigint"
    )
    tot = obs.agg(F.sum("n_obs").alias("n_total"))
    return (
        F.broadcast(exp_df)
        .join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "benford_micro",
            F.expr(
                "case when n_total > 0 and n_total <= 4611683712585 then"
                " (2000000 * coalesce(n_obs, 0) + n_total) div (2 * n_total)"
                " end"
            ).alias("obs_freq_micro"),
            F.expr(
                "case when n_total > 0 and n_total <= 4611683712585 then"
                " abs((2000000 * coalesce(n_obs, 0) + n_total) div (2 * n_total)"
                " - benford_micro) end"
            ).alias("abs_dev_micro"),
        )
    )


def _markov_oracle() -> str:
    """Unrolled MARKOV_ITERS rounds of the integer-micro absorption
    recurrence (the pagerank-oracle discipline): each round is one plain
    CTE over the previous iterate + the bounded transition counts."""
    rounds = []
    for n in range(1, MARKOV_ITERS + 1):
        rounds.append(
            f""", it{n} AS (
            SELECT cs.scenario, cs.state,
                   CASE WHEN cs.state = cs.scenario THEN 0
                        ELSE ((cs.cconst + coalesce(ctr.contrib, 0)) // t.r)::BIGINT
                   END AS p
            FROM consts cs
            JOIN totals t ON t.state = cs.state
            LEFT JOIN (
                SELECT i.scenario, c.from_type AS state,
                       sum(c.n_trans * i.p)::BIGINT AS contrib
                FROM it{n - 1} i JOIN counts c ON c.to_type = i.state
                GROUP BY 1, 2
            ) ctr ON ctr.scenario = cs.scenario AND ctr.state = cs.state
        )"""
        )
    return f"""
        WITH seqd AS (
            SELECT user_id, event_type AS et,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS seq
            FROM events WHERE event_type IS NOT NULL
        ), marked AS (
            SELECT *,
                   min(CASE WHEN et = 'purchase' THEN seq END)
                       OVER (PARTITION BY user_id) AS psq,
                   max(seq) OVER (PARTITION BY user_id) AS maxseq
            FROM seqd
        ), kept AS (
            SELECT user_id, seq, psq, maxseq,
                   CASE WHEN et = 'purchase' THEN 'CONV' ELSE et END AS lbl
            FROM marked WHERE psq IS NULL OR seq <= psq
        ), steps AS (
            SELECT coalesce(lag(lbl) OVER (PARTITION BY user_id ORDER BY seq),
                            'START') AS from_type,
                   lbl AS to_type
            FROM kept
            UNION ALL
            SELECT lbl, 'END' FROM kept WHERE psq IS NULL AND seq = maxseq
        ), counts AS MATERIALIZED (
            SELECT from_type, to_type, count(*)::BIGINT AS n_trans
            FROM steps GROUP BY 1, 2
        ), channels AS MATERIALIZED (
            SELECT DISTINCT ch FROM (
                SELECT to_type AS ch FROM counts
                WHERE to_type NOT IN ('CONV', 'END')
                UNION
                SELECT from_type FROM counts WHERE from_type <> 'START'
            )
        ), scenarios AS MATERIALIZED (
            SELECT 'base' AS scenario UNION ALL SELECT ch FROM channels
        ), states AS MATERIALIZED (
            SELECT ch AS state FROM channels UNION ALL SELECT 'START'
        ), totals AS MATERIALIZED (
            SELECT from_type AS state, sum(n_trans)::BIGINT AS r
            FROM counts GROUP BY 1
        ), consts AS MATERIALIZED (
            SELECT sc.scenario, st.state,
                   coalesce(sum(CASE WHEN c.to_type = 'CONV'
                                     THEN c.n_trans * 1000000 ELSE 0 END),
                            0)::BIGINT AS cconst
            FROM scenarios sc
            CROSS JOIN states st
            LEFT JOIN counts c ON c.from_type = st.state
            GROUP BY 1, 2
        ), it0 AS (
            SELECT scenario, state, 0::BIGINT AS p FROM consts
        ){"".join(rounds)}, final AS (
            SELECT scenario, p FROM it{MARKOV_ITERS} WHERE state = 'START'
        ), basep AS (
            SELECT p AS base FROM final WHERE scenario = 'base'
        ), rem AS (
            SELECT f.scenario AS channel, b.base AS base_conv_micro,
                   f.p AS removed_conv_micro,
                   CASE WHEN b.base > 0
                        THEN (1000000 - (1000000 * f.p) // b.base)::BIGINT
                   END AS removal_effect_micro
            FROM final f CROSS JOIN basep b WHERE f.scenario <> 'base'
        ), resum AS (
            SELECT sum(removal_effect_micro)::BIGINT AS s FROM rem
        )
        SELECT channel, base_conv_micro, removed_conv_micro,
               removal_effect_micro,
               CASE WHEN removal_effect_micro IS NOT NULL AND r.s > 0
                    THEN ((1000000 * removal_effect_micro) // r.s)::BIGINT
               END AS attribution_share_micro
        FROM rem CROSS JOIN resum r
    """


#: chi-square critical value, df=1, alpha=0.05 (the z-crit^2 identity:
#: 1.959964^2), shipped as an integer-micro literal like every critical
#: value in this module (no engine-side distribution functions)
CHI2_CRIT_MICRO = 3_841_459


def q_abtest_chi_square(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson chi-square independence test (Pearson 1900) on the 2x2
    arm x converted contingency table of the deterministic experiment
    split — the contingency-table companion to the z/Wilson/Mann-Whitney
    family: for 2x2 it equals the two-proportion z-test squared, so it
    doubles as a cross-check of that query, and it is the form that
    generalizes to multi-arm experiments.

        chi2 = N * (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d))

    Determinism: the four cells are exact integers from one user-level
    aggregate; chi2 evaluates in doubles over those integers in ONE fixed
    expression (the cell products would overflow int64 at ~2e5 users if
    kept integer — N*(ad-bc)^2 is an N^5 term, so doubles are the honest
    representation, identical expression text in both engines), floored
    to micros; the verdict compares integers against the Python-literal
    critical value.

    Scale shape: one combine-friendly user-level aggregate, one 1-row
    fold. Nothing user-sized is sorted or joined."""
    events = load(spark, sf, "events")
    users = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    )
    cells = users.agg(
        F.sum(F.expr("if(user_id % 2 = 0 and converted = 1, 1, 0)")).alias("a"),
        F.sum(F.expr("if(user_id % 2 = 0 and converted = 0, 1, 0)")).alias("b"),
        F.sum(F.expr("if(user_id % 2 = 1 and converted = 1, 1, 0)")).alias("c"),
        F.sum(F.expr("if(user_id % 2 = 1 and converted = 0, 1, 0)")).alias("d"),
    )
    chi2 = F.expr(
        "case when (a + b) > 0 and (c + d) > 0 and (a + c) > 0 and (b + d) > 0 then"
        " cast(a + b + c + d as double)"
        " * (cast(a as double) * cast(d as double)"
        "    - cast(b as double) * cast(c as double))"
        " * (cast(a as double) * cast(d as double)"
        "    - cast(b as double) * cast(c as double))"
        " / (cast(a + b as double) * cast(c + d as double)"
        "    * cast(a + c as double) * cast(b + d as double)) end"
    )
    cm = F.floor(chi2 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return cells.select(
        F.col("a").alias("n_conv_a"),
        F.col("b").alias("n_nonconv_a"),
        F.col("c").alias("n_conv_b"),
        F.col("d").alias("n_nonconv_b"),
        cm.alias("chi2_micro"),
        F.coalesce(cm >= CHI2_CRIT_MICRO, F.lit(False)).alias("significant"),
    )


def q_event_rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    purchase events — the classic behavioral-cohort operator (Hughes
    1994): each purchasing user scores 1-5 on how recently, how often,
    and how much they bought, and the three digits concatenate into the
    familiar segment code ('555' = best customers).

    Scale shape — boundaries, not ranks: the textbook ntile() over a
    global ORDER BY is a single-task sort at corpus scale, so scores are
    assigned by comparing each user's metric against the 20/40/60/80th
    exact percentiles of the USER-LEVEL aggregate (a 1-row broadcast of
    12 doubles) — one combine-friendly aggregate, one broadcast, pure
    map-side scoring, nothing user-sized sorted. (Tie semantics differ
    from ntile — every tied user gets the SAME score, which is the
    defensible behavior anyway.)

    Determinism: recency is an integer day diff (cast wide, the z-order
    datediff discipline); monetary is exact integer cents; the exact
    `percentile` boundaries follow the outlier-fence precedent (same
    linear-interpolation definition as DuckDB quantile_cont); scores are
    integer comparisons against those identical doubles."""
    events = load(spark, sf, "events")
    purch = events.where(F.col("event_type") == "purchase")
    return rfm_segmentation(purch)


def rfm_segmentation(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """RFM scores + segment code over ANY (user, ts, amount) purchase
    frame — (user_id, recency_days, n_purchases, monetary_cents,
    r_score, f_score, m_score, segment); boundary/tie semantics and the
    scale rationale in `q_event_rfm_segmentation`."""
    purch = df.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
    )
    anchor = purch.agg(F.max(F.to_date("ts")).alias("anchor_day"))
    users = (
        purch.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr("cast(datediff(anchor_day, to_date(ts)) as bigint)")
            ).alias("recency_days"),
            F.count("*").alias("n_purchases"),
            F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias(
                "monetary_cents"
            ),
        )
    )
    cuts = users.agg(
        *[
            F.percentile(c, p).alias(f"{c}_p{int(p * 100)}")
            for c in ("recency_days", "n_purchases", "monetary_cents")
            for p in (0.2, 0.4, 0.6, 0.8)
        ]
    )

    def _score(c: str, higher_is_better: bool) -> F.Column:
        cmps = [
            (F.col(c) > F.col(f"{c}_p{q}")).cast("int") for q in (20, 40, 60, 80)
        ]
        exceeded = cmps[0] + cmps[1] + cmps[2] + cmps[3]
        return (1 + exceeded) if higher_is_better else (5 - exceeded)

    scored = users.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "recency_days",
        "n_purchases",
        "monetary_cents",
        _score("recency_days", False).alias("r_score"),
        _score("n_purchases", True).alias("f_score"),
        _score("monetary_cents", True).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


#: ABC cumulative-revenue class boundaries (percent of total)
ABC_A_PCT = 70
ABC_B_PCT = 90


def q_pareto_abc_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto / ABC inventory classification over part revenue: parts
    sorted by revenue, classified A while the running revenue share is
    within ABC_A_PCT%, B to ABC_B_PCT%, C after — the 80/20 analysis
    every catalog/procurement pipeline runs, here over lineitem revenue.

    Scale shape: revenue aggregates per part FIRST (combine-friendly, the
    corpus-sized scan), and the running-share window runs over the
    AGGREGATED part table (the vocab_coverage sorted-aggregate
    discipline — dimension-sized, not fact-sized).

    Determinism: revenue is exact integer cents (the TPC-H 2-decimal
    regime: price and discount each scale by 100 exactly, so
    price*(100-disc) is an exact integer in 10^-4 dollars, floor-divided
    back to cents); the running sum orders by the (revenue, partkey)
    total order; class membership compares integer cumsum*100 against
    pct*total — no doubles anywhere."""
    li = load(spark, sf, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "cast(floor(l_extendedprice * 100 + 0.5) as bigint)"
                " * cast(100 - floor(l_discount * 100 + 0.5) as bigint)"
            )
        ).alias("rev_4")
    )
    # total revenue as a second window function over the SAME sort spec
    # (unbounded frame): one Window operator computes both, so the plan
    # keeps exactly one lineitem scan — a broadcast-total crossJoin would
    # re-run the revenue aggregate lineage for the 1-row side
    order = [F.col("rev_4").desc(), F.col("l_partkey").asc()]
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        rev.withColumn("cum_4", F.sum("rev_4").over(w))
        .withColumn("total_4", F.sum("rev_4").over(w_tot))
        .select(
            "l_partkey",
            F.expr("rev_4 div 100").alias("revenue_cents"),
            F.expr("cum_4 div 100").alias("cum_revenue_cents"),
            F.expr(
                f"case when cum_4 * 100 <= total_4 * {ABC_A_PCT} then 'A'"
                f" when cum_4 * 100 <= total_4 * {ABC_B_PCT} then 'B'"
                " else 'C' end"
            ).alias("abc_class"),
        )
    )
    return ranked


def q_sketch_minhash_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based asymmetric containment for LSH candidate pairs:
    resemblance (Jaccard) treats a short document quoted inside a long
    one as dissimilar, but containment C(A,B) = |A n B| / |A| flags it —
    the quote-inclusion / boilerplate-envelope case exact dedup misses
    and symmetric near-dup under-scores (Broder 1997 distinguishes the
    two on exactly these grounds). From the MinHash resemblance estimate
    j and the EXACT per-doc distinct-shingle counts |A|, |B| (one cheap
    integer per doc), the intersection estimates as
    j / (1 + j) * (|A| + |B|), giving both directed containments without
    any exact pairwise intersection work.

    Determinism: j is the dyadic k/16 agreement from the LSH pair stream;
    the containment ratios evaluate in one fixed double expression over
    (k-scaled integers, exact counts) and floor to micros. Lives in
    analytics per the sketch_minhash_bbit precedent (analytics -> dedup
    is acyclic and dedup's dict sits inside the driver's checked prefix).

    Scale shape: candidate pairs come from the banded skew-guarded LSH
    plan; the size table is a per-doc integer aggregate joined back
    pair-bounded (hash joins on doc ids); no pairwise set operation
    anywhere."""
    from .dedup import _shingled_docs, q_dedup_minhash_lsh

    # r14 note: sharing one pinned tokenized-corpus frame between the
    # pair chain and the size table (the minhash_calibration pattern) was
    # MEASURED SLOWER here (3.1 vs 2.1 s min-of-6 paired): this query has
    # only two corpus passes to begin with, and the token-array cache
    # build costs more than the one rescan it saves. Left as two passes.
    pairs = q_dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b", "est_jaccard")
    sizes = _shingled_docs(spark, sf).select(
        "doc_id", F.size("shingles").alias("n_sh")
    )
    a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_shingles_a"))
    b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_shingles_b"))
    est_int = (
        "(est_jaccard / (1.0d + est_jaccard))"
        " * (cast(n_shingles_a as double) + cast(n_shingles_b as double))"
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shingles_a",
            "n_shingles_b",
            "est_jaccard",
            F.expr(
                f"case when n_shingles_a > 0 then cast(floor({est_int}"
                " / cast(n_shingles_a as double) * 1000000.0d + 0.5) as bigint) end"
            ).alias("est_containment_a_micro"),
            F.expr(
                f"case when n_shingles_b > 0 then cast(floor({est_int}"
                " / cast(n_shingles_b as double) * 1000000.0d + 0.5) as bigint) end"
            ).alias("est_containment_b_micro"),
        )
    )


def q_stats_spearman_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) between per-user event
    count and per-user total event value — the nonparametric "are heavy
    users heavy spenders?" association, robust to the heavy-tailed spend
    distribution that breaks Pearson on raw values.

    Determinism discipline (the Mann-Whitney rank pattern): ranks come
    from the two DISTINCT-value tables with exact tie handling — a value
    occupying ranks cum+1..cum+t has average rank (2*cum + t + 1)/2, so
    DOUBLED ranks stay integer; per-user metrics are exact integers
    (count, micro-value sum). The four doubled-rank moments (sum, both
    sums of squares, cross sum) are exact bigint aggregates; only the
    final rho = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))
    is a fixed IEEE expression over those integers (the n*Sxy term tops
    4n^4 — past int64 at ~60k users — so doubles are the honest
    representation there, the chi-square precedent), floored once to
    micros.

    int64-headroom guard (ENFORCED, the Mann-Whitney/ACF discipline):
    the integer moments are bounded by sum(r2^2) <= 4n^3, so the guard
    reads only n (exact at any scale): 2 + 3*log2(n) < 62, i.e. the
    moments wrap past ~1.3e6 users. A tripped guard NULLs rho_micro
    LOUDLY (headroom_ok = false) instead of reporting wrapped garbage;
    the oracle mirrors the same CASE (DuckDB's HUGEINT wouldn't wrap,
    but the ::BIGINT cast would error without it).

    Scale shape: one combine-friendly user-level aggregate, two
    running-sum windows over DISTINCT-METRIC-VALUE tables (bounded by
    metric cardinality, not user count — the vocab_coverage
    sorted-aggregate discipline), two hash joins back on the metric
    value, one 1-row fold. Nothing user-sized is sorted."""
    events = load(spark, sf, "events")
    users = events.groupBy("user_id").agg(
        F.count("*").alias("x"),
        F.sum(F.expr("cast(floor(value * 1000000 + 0.5) as bigint)")).alias("y"),
    )

    def _doubled_ranks(col: str) -> DataFrame:
        vals = users.groupBy(col).agg(F.count("*").alias("t"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return vals.select(
            col,
            (
                2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1
            ).alias(f"r2{col}"),
        )

    ranked = (
        users.join(_doubled_ranks("x"), "x")
        .join(_doubled_ranks("y"), "y")
        .select("r2x", "r2y")
    )
    g = ranked.agg(
        F.count("*").alias("n_users"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    ok = F.expr(
        "case when n_users <= 1 then true"
        " else 2.0 + 3.0 * log2(cast(n_users as double)) < 62.0 end"
    )
    rho = F.expr(
        "case when n_users > 1"
        " and cast(n_users as double) * cast(sxx as double)"
        "     - cast(sx as double) * cast(sx as double) > 0.0"
        " and cast(n_users as double) * cast(syy as double)"
        "     - cast(sy as double) * cast(sy as double) > 0.0 then"
        " (cast(n_users as double) * cast(sxy as double)"
        "  - cast(sx as double) * cast(sy as double))"
        " / sqrt((cast(n_users as double) * cast(sxx as double)"
        "         - cast(sx as double) * cast(sx as double))"
        "        * (cast(n_users as double) * cast(syy as double)"
        "           - cast(sy as double) * cast(sy as double))) end"
    )
    return g.select(
        "n_users",
        F.when(ok, F.col("sxy")).alias("sxy"),
        F.when(ok, F.floor(rho * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "rho_micro"
        ),
        ok.alias("headroom_ok"),
    )


#: Lorenz-curve resolution: customers are bucketed into this many equal-count
#: groups (by revenue ascending) for the reported concentration table
LORENZ_BUCKETS = 10


def q_revenue_gini_lorenz(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue concentration: the Lorenz curve (Lorenz 1905) over
    per-customer order revenue in LORENZ_BUCKETS equal-count buckets,
    with the exact Gini coefficient (Gini 1912) attached — the
    inequality companion to pareto_abc_analysis ("how concentrated is
    revenue?" as one number plus a curve, instead of per-part classes).

    Gini via the sorted-index identity G = sum((2i - n - 1) * x_i)
    / (n * sum(x)) over revenue ascending — exact integer numerator and
    denominator (revenue is exact cents; i is row_number over the total
    order (revenue, custkey)), one double division floored to micros.

    int64-headroom guard (ENFORCED): the numerator is bounded by
    2 * n^2 * max_cents, so the guard reads only n and max_cents (exact
    at any scale): 1 + 2*log2(n) + log2(max_cents) < 62. Tripped ->
    gini_micro NULL, headroom_ok false, same CASE in the oracle.

    Scale shape: revenue aggregates per customer FIRST (the corpus-sized
    scan, combine-friendly); the row_number/ntile windows and the 1-row
    Gini fold run over the AGGREGATED customer table (the pareto_abc
    discipline). The global sort over customers is the inherent cost of
    an EXACT Gini/Lorenz — at 100 TB the approximation path is the
    equi-depth histogram (histogram_equidepth) over the same aggregate."""
    return gini_lorenz(
        load(spark, sf, "orders"), key_col="o_custkey", value_col="o_totalprice"
    )


def gini_lorenz(
    df: DataFrame, *, key_col: str, value_col: str
) -> DataFrame:
    """Lorenz curve buckets + exact Gini over ANY (key, amount) frame —
    amounts aggregate to exact cents per key first; output (bucket,
    n_customers, revenue_cents, cum_share_micro, gini_micro,
    headroom_ok). Identity, guard, and scale notes in
    `q_revenue_gini_lorenz`."""
    rev = df.groupBy(F.col(key_col).alias("o_custkey")).agg(
        F.sum(
            F.expr(f"cast(floor({value_col} * 100 + 0.5) as bigint)")
        ).alias("cents")
    )
    order = [F.col("cents").asc(), F.col("o_custkey").asc()]
    w = Window.orderBy(*order)
    ranked = rev.select(
        "cents", F.row_number().over(w).alias("i"),
        F.ntile(LORENZ_BUCKETS).over(w).alias("bucket"),
    )
    scalars = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total_cents"),
        F.max("cents").alias("max_cents"),
        F.sum((2 * F.col("i") - 1) * F.col("cents")).alias("g2_plus_nt"),
    )
    # sum((2i - n - 1) x) = sum((2i - 1) x) - n * total: the n-dependent
    # term folds OUT of the row-wise aggregate so the running expression
    # never needs n mid-stream
    ok = F.expr(
        "case when n <= 1 or total_cents = 0 then true"
        " else 1.0 + 2.0 * log2(cast(n as double))"
        "      + log2(cast(greatest(max_cents, 1) as double)) < 62.0 end"
    )
    gini = F.expr(
        "case when n > 1 and total_cents > 0 then"
        " cast(g2_plus_nt - n * total_cents as double)"
        " / (cast(n as double) * cast(total_cents as double)) end"
    )
    scalars = scalars.select(
        "n",
        "total_cents",
        F.when(ok, F.floor(gini * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "gini_micro"
        ),
        ok.alias("headroom_ok"),
    )
    buckets = ranked.groupBy("bucket").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("revenue_cents"),
        F.max("i").alias("max_i"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        buckets.withColumn("cum_cents", F.sum("revenue_cents").over(w_cum))
        .crossJoin(F.broadcast(scalars))
        .select(
            "bucket",
            "n_customers",
            "revenue_cents",
            F.expr(
                "case when total_cents > 0 then"
                " cast(floor(cast(cum_cents as double)"
                " / cast(total_cents as double) * 1000000.0 + 0.5) as bigint) end"
            ).alias("cum_share_micro"),
            "gini_micro",
            "headroom_ok",
        )
    )


def q_abtest_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér's V association strength (Cramér 1946) over the full
    event_type x arm contingency table — the multi-row generalization of
    abtest_chi_square: chi-square answers "is event mix independent of
    the arm?", V normalizes it to [0, 1] so effect SIZE is comparable
    across experiments of different n.

    The grid is completed before the test: row margins cross-join the
    two arms and LEFT join observed counts, so a type absent from one
    arm contributes its full expected-count term (o=0 cells are where
    the signal lives; dropping them biases chi2 down).

    Determinism: all cells/margins are exact integer counts; each cell's
    (o - e)^2 / e term is floored to micros FIRST and the micro terms
    integer-summed (the corpus_divergence_kl discipline — |types| x 2
    cells, so the integer sum is tiny); V = sqrt(chi2 / (N * (min(r,c)
    - 1))) is one fixed double expression over (chi2_micro, N), floored
    to micros.

    Scale shape: one combine-friendly groupBy(event_type, arm) count,
    margins re-aggregate the CELL table (|types| x 2 rows, not events),
    broadcast joins, one 1-row fold. Nothing event-sized shuffles
    twice."""
    events = load(spark, sf, "events")
    cells = (
        events.select(
            "event_type", (F.col("user_id") % 2).cast("int").alias("arm")
        )
        .groupBy("event_type", "arm")
        .agg(F.count("*").alias("o"))
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    col_tot = cells.groupBy("arm").agg(F.sum("o").alias("col_n"))
    n_tot = cells.agg(F.sum("o").alias("n"))
    grid = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .join(cells, ["event_type", "arm"], "left")
        .na.fill({"o": 0})
        .crossJoin(F.broadcast(n_tot))
    )
    term = F.expr(
        "cast(floor((cast(o as double) - cast(row_n as double)"
        " * cast(col_n as double) / cast(n as double))"
        " * (cast(o as double) - cast(row_n as double)"
        " * cast(col_n as double) / cast(n as double))"
        " / (cast(row_n as double) * cast(col_n as double)"
        " / cast(n as double)) * 1000000.0 + 0.5) as bigint)"
    )
    g = grid.agg(
        F.max("n").alias("n_total"),
        F.count_distinct("event_type").alias("n_rows"),
        F.count_distinct("arm").alias("n_cols"),
        F.sum(term).alias("chi2_micro"),
    )
    v = F.expr(
        "case when n_total > 0 and least(n_rows, n_cols) > 1 then"
        " sqrt(cast(chi2_micro as double) / 1000000.0"
        " / (cast(n_total as double)"
        "    * cast(least(n_rows, n_cols) - 1 as double))) end"
    )
    return g.select(
        "n_rows",
        "n_cols",
        "n_total",
        "chi2_micro",
        F.floor(v * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias(
            "cramers_v_micro"
        ),
    )


QUERIES = {
    "funnel_conversion": q_funnel_conversion,
    "sessionize_events": q_sessionize_events,
    "layout_zorder_files": q_layout_zorder_files,
    "cohort_retention": q_cohort_retention,
    "merge_upsert": q_merge_upsert,
    "scd2_intervals": q_scd2_intervals,
    "event_transition_matrix": q_event_transition_matrix,
    # appended last (r7 continuation): multi-touch purchase attribution
    "attribution_multitouch": q_attribution_multitouch,
    # r7 continuation: min/max-manifest pruning audit over the z-order
    # layout
    "manifest_prune_stats": q_manifest_prune_stats,
    # r7 continuation: two-proportion z-test over the deterministic split
    "abtest_proportion_ztest": q_abtest_proportion_ztest,
    # r7 continuation: CDC snapshot diff census
    "table_change_log": q_table_change_log,
    # r7 continuation: small-file compaction planner over the manifest
    "compaction_plan": q_compaction_plan,
    # r8: nonparametric rank-sum test over the same experiment split
    "abtest_mann_whitney": q_abtest_mann_whitney,
    # r8: Markov removal-effect attribution
    "attribution_markov_removal": q_attribution_markov_removal,
    # r8: Benford first-digit data-quality audit
    "benford_digit_audit": q_benford_digit_audit,
    # r8: per-arm Wilson conversion-rate confidence intervals
    "abtest_wilson_ci": q_abtest_wilson_ci,
    # r8: b-bit minhash storage/quality calibration
    "sketch_minhash_bbit": q_sketch_minhash_bbit,
    # r9: Pearson chi-square independence test over the 2x2 arm table
    "abtest_chi_square": q_abtest_chi_square,
    # r9: RFM behavioral segmentation and Pareto/ABC revenue classes
    "event_rfm_segmentation": q_event_rfm_segmentation,
    "pareto_abc_analysis": q_pareto_abc_analysis,
    # r9: directed containment estimates over the LSH candidate stream
    "sketch_minhash_containment": q_sketch_minhash_containment,
    # r9 continuation: rank/concentration/association statistics
    "stats_spearman_corr": q_stats_spearman_corr,
    "revenue_gini_lorenz": q_revenue_gini_lorenz,
    "abtest_cramers_v": q_abtest_cramers_v,
}

ORACLES = {
    "layout_zorder_files": f"""
        WITH z AS (
            SELECT o_orderkey, o_custkey, o_orderdate,
                   {_interleave_bits_sql(
                       f"(o_custkey % {1 << ZORDER_BITS})",
                       f"(date_diff('day', DATE '1992-01-01', o_orderdate::DATE) % {1 << ZORDER_BITS})",
                       ZORDER_BITS,
                   )} AS zval
            FROM orders
        )
        SELECT zval // {1 << ZORDER_FILE_SHIFT} AS file_id,
               count(*) AS n_rows,
               min(o_custkey) AS custkey_min,
               max(o_custkey) AS custkey_max,
               min(o_orderdate) AS date_min,
               max(o_orderdate) AS date_max
        FROM z GROUP BY 1
    """,
    "sessionize_events": f"""
        WITH ordered AS (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
        ), flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN gap_us IS NULL
                             OR gap_us > {SESSION_GAP_SECONDS} * 1000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM ordered
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events,
               (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000 AS duration_secs
        FROM sess GROUP BY user_id, session_id
    """,
    "funnel_conversion": """
        WITH tv AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), tc AS (
            SELECT e.user_id, min(ts) AS t_click
            FROM events e JOIN tv USING (user_id)
            WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id
        ), tp AS (
            SELECT e.user_id, min(ts) AS t_purchase
            FROM events e JOIN tc USING (user_id)
            WHERE event_type = 'purchase' AND ts > t_click GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM tv) AS n_viewed,
               (SELECT count(*) FROM tc) AS n_clicked,
               (SELECT count(*) FROM tp) AS n_purchased,
               round((SELECT count(*) FROM tc) / (SELECT count(*) FROM tv), 6) AS view_to_click,
               round((SELECT count(*) FROM tp) / (SELECT count(*) FROM tc), 6) AS click_to_purchase,
               round((SELECT count(*) FROM tp) / (SELECT count(*) FROM tv), 6) AS overall
    """,
    "cohort_retention": """
        WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
        first_seen AS (
            SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
        ), activity AS (SELECT DISTINCT user_id, day FROM ev)
        SELECT cohort_day, date_diff('day', cohort_day, day) AS offset_days,
               count(DISTINCT user_id) AS n_active_users
        FROM activity JOIN first_seen USING (user_id)
        GROUP BY 1, 2
    """,
    "merge_upsert": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ), updates AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_totalprice + 50.0 AS o_totalprice
            FROM base WHERE o_orderkey % {UPSERT_UPDATE_MOD} = 0
        ), inserts AS (
            SELECT o_orderkey + {UPSERT_KEY_SHIFT} AS o_orderkey,
                   'N' AS o_orderstatus, o_totalprice
            FROM base WHERE o_orderkey % {UPSERT_INSERT_MOD} = 0
        )
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM (
            SELECT * FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
            UNION ALL SELECT * FROM updates
            UNION ALL SELECT * FROM inserts
        )
    """,
    "scd2_intervals": """
        SELECT user_id, event_type,
               ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               lead(ts) OVER w IS NULL AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    "event_transition_matrix": """
        WITH trans AS (
            SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS from_type,
                   event_type AS to_type
            FROM events
        ), counts AS (
            SELECT from_type, to_type, count(*) AS n_transitions
            FROM trans WHERE from_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n_transitions,
               round(n_transitions / sum(n_transitions)
                     OVER (PARTITION BY from_type), 6) AS p_transition
        FROM counts
    """,
    "attribution_multitouch": f"""
        WITH p AS (
            SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ), t AS (
            SELECT user_id, event_id AS t_id, event_type AS touch_type,
                   ts AS t_ts
            FROM events WHERE event_type <> 'purchase'
        ), joined AS (
            SELECT touch_type, p_id, t_ts, t_id
            FROM p JOIN t ON p_user = user_id
            WHERE t_ts <= p_ts
              AND t_ts > p_ts - INTERVAL {ATTR_HORIZON_DAYS} DAY
        ), scored AS (
            SELECT touch_type,
                   row_number() OVER (PARTITION BY p_id
                                      ORDER BY t_ts DESC, t_id ASC) AS r_last,
                   row_number() OVER (PARTITION BY p_id
                                      ORDER BY t_ts ASC, t_id ASC) AS r_first,
                   count(*) OVER (PARTITION BY p_id) AS n_touches
            FROM joined
        )
        SELECT touch_type,
               sum(CASE WHEN r_last = 1 THEN 1 ELSE 0 END)::BIGINT AS last_touch,
               sum(CASE WHEN r_first = 1 THEN 1 ELSE 0 END)::BIGINT AS first_touch,
               sum(floor(1000000.0 / n_touches + 0.5)::BIGINT)::BIGINT AS linear_micro
        FROM scored
        GROUP BY touch_type
        ORDER BY touch_type
    """,
    # the same manifest + probe grid; pruning rule restated verbatim
    "manifest_prune_stats": f"""
        WITH z AS (
            SELECT o_custkey, o_orderdate,
                   {_interleave_bits_sql(
                       f"(o_custkey % {1 << ZORDER_BITS})",
                       f"(date_diff('day', DATE '1992-01-01', o_orderdate::DATE) % {1 << ZORDER_BITS})",
                       ZORDER_BITS,
                   )} AS zval
            FROM orders
        ), mf AS MATERIALIZED (
            SELECT zval // {1 << ZORDER_FILE_SHIFT} AS file_id,
                   count(*)::BIGINT AS n_rows,
                   min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
                   min(o_orderdate) AS dt_min, max(o_orderdate) AS dt_max
            FROM z GROUP BY 1
        ), mck AS (SELECT max(o_custkey) AS m FROM orders),
        ck_probes AS (
            SELECT g.id::INT AS probe_id,
                   (g.id * m) // {PRUNE_N_PROBES} AS lo,
                   (g.id * m) // {PRUNE_N_PROBES} + m // {2 * PRUNE_N_PROBES} AS hi
            FROM (SELECT unnest(generate_series(0, {PRUNE_N_PROBES - 1})) AS id) g
            CROSS JOIN mck
        ), dt_probes AS (
            SELECT g.id::INT AS probe_id,
                   DATE '1994-01-01' + to_months((3 * g.id)::INT) AS lo,
                   DATE '1994-01-01' + to_months((3 * (g.id + 1))::INT)
                     - to_days(1) AS hi
            FROM (SELECT unnest(generate_series(0, {PRUNE_N_PROBES - 1})) AS id) g
        ), flags AS (
            SELECT 'custkey' AS dim, p.probe_id, mf.n_rows,
                   NOT (mf.ck_max < p.lo OR mf.ck_min > p.hi) AS touched
            FROM mf CROSS JOIN ck_probes p
            UNION ALL
            SELECT 'orderdate' AS dim, p.probe_id, mf.n_rows,
                   NOT (mf.dt_max < p.lo OR mf.dt_min > p.hi) AS touched
            FROM mf CROSS JOIN dt_probes p
        )
        SELECT dim, probe_id,
               count(*)::BIGINT AS n_files,
               sum(CASE WHEN touched THEN 1 ELSE 0 END)::BIGINT AS n_files_touched,
               sum(CASE WHEN touched THEN n_rows ELSE 0 END)::BIGINT AS n_rows_touched
        FROM flags GROUP BY 1, 2
    """,
    # identical IEEE expression over the same four integer counts
    "abtest_proportion_ztest": f"""
        WITH users AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id
        ), g AS (
            SELECT
                sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END)::BIGINT AS conv_a,
                sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
                sum(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END)::BIGINT AS conv_b
            FROM users
        ), z AS (
            SELECT *,
                   CASE WHEN n_a > 0 AND n_b > 0
                         AND conv_a + conv_b > 0
                         AND conv_a + conv_b < n_a + n_b THEN
                     floor((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
                           / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                                  * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                                  * (1.0 / n_a + 1.0 / n_b))
                           * 1000000.0 + 0.5)::BIGINT
                   END AS z_micro
            FROM g
        )
        SELECT n_a, conv_a, n_b, conv_b, z_micro,
               coalesce(abs(z_micro) >= {ABTEST_Z_CRIT_MICRO}, FALSE) AS significant
        FROM z
    """,
    # snapshot B rebuilt from the merge_upsert oracle logic + deletions
    "table_change_log": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ), updates AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_totalprice + 50.0 AS o_totalprice
            FROM base WHERE o_orderkey % {UPSERT_UPDATE_MOD} = 0
        ), inserts AS (
            SELECT o_orderkey + {UPSERT_KEY_SHIFT} AS o_orderkey,
                   'N' AS o_orderstatus, o_totalprice
            FROM base WHERE o_orderkey % {UPSERT_INSERT_MOD} = 0
        ), merged AS (
            SELECT b.o_orderkey, b.o_orderstatus,
                   round(b.o_totalprice, 2) AS o_totalprice
            FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM updates u
                              WHERE u.o_orderkey = b.o_orderkey)
            UNION ALL
            SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2)
            FROM updates
            UNION ALL
            SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2)
            FROM inserts
        ), snap_b AS (
            SELECT * FROM merged WHERE o_orderkey % {CDC_DELETE_MOD} != 0
        ), joined AS (
            SELECT coalesce(a.o_orderkey, b.o_orderkey) AS key,
                   a.o_orderstatus AS status_a, a.o_totalprice AS price_a,
                   b.o_orderstatus AS status_b, b.o_totalprice AS price_b
            FROM base a FULL OUTER JOIN snap_b b
              ON a.o_orderkey = b.o_orderkey
        ), classified AS (
            SELECT CASE WHEN status_a IS NULL THEN 'inserted'
                        WHEN status_b IS NULL THEN 'deleted'
                        WHEN status_a != status_b OR price_a != price_b
                             THEN 'updated'
                        ELSE 'unchanged' END AS change_type,
                   key,
                   coalesce(price_b, 0.0) - coalesce(price_a, 0.0) AS delta
            FROM joined
        )
        SELECT change_type, count(*)::BIGINT AS n_rows,
               sum(key)::BIGINT AS key_checksum,
               round(sum(delta), 2) AS price_delta
        FROM classified GROUP BY 1
    """,
    # integer bin-fill plan over the same hourly manifest
    "compaction_plan": """
        WITH mf AS MATERIALIZED (
            SELECT date_trunc('hour', ts) AS file_hour,
                   count(*)::BIGINT AS n_rows
            FROM events GROUP BY 1
        ), stats AS (
            SELECT (sum(n_rows) // count(*))::BIGINT AS avg_rows FROM mf
        ), small AS (
            SELECT mf.file_hour, mf.n_rows, s.avg_rows
            FROM mf CROSS JOIN stats s
            WHERE mf.n_rows < s.avg_rows
        ), binned AS (
            SELECT file_hour, n_rows,
                   (((sum(n_rows) OVER (ORDER BY file_hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                     - n_rows) // (4 * avg_rows)) AS bin_id
            FROM small
        )
        SELECT bin_id, count(*)::BIGINT AS n_files_merged,
               sum(n_rows)::BIGINT AS rows_total,
               min(file_hour) AS hour_min, max(file_hour) AS hour_max
        FROM binned GROUP BY 1
    """,
    "abtest_mann_whitney": f"""
        WITH vals AS (
            SELECT value AS v, count(*)::BIGINT AS t,
                   sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS ta
            FROM events WHERE event_type = 'purchase'
              AND value IS NOT NULL AND user_id IS NOT NULL GROUP BY 1
        ), ranked AS (
            SELECT v, t, ta,
                   coalesce(sum(t) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
            FROM vals
        ), g AS (
            -- raw sums stay HUGEINT; the ::BIGINT casts happen only under
            -- the headroom guard (they would ERROR on overflow in DuckDB,
            -- where Spark wraps — the guard makes both engines NULL)
            SELECT sum(ta) AS n_a_h,
                   sum(t - ta) AS n_b_h,
                   sum(ta * (2 * cum + t + 1)) AS r2_h,
                   sum(t * t * t - t) AS tie_h,
                   max(t)::BIGINT AS t_max
            FROM ranked
        ), u AS (
            SELECT n_a_h::BIGINT AS n_a, n_b_h::BIGINT AS n_b,
                   case when n_a_h is null or n_a_h + n_b_h = 0 then true else
                        2.0 * log2(cast(t_max as double))
                          + log2(cast(n_a_h + n_b_h as double)) < 62.0
                        and 1.0 + 2.0 * log2(cast(n_a_h + n_b_h as double)) < 62.0
                   end AS headroom_ok,
                   case when (n_a_h is null or n_a_h + n_b_h = 0) or (
                        2.0 * log2(cast(t_max as double))
                          + log2(cast(n_a_h + n_b_h as double)) < 62.0
                        and 1.0 + 2.0 * log2(cast(n_a_h + n_b_h as double)) < 62.0)
                   then tie_h::BIGINT end AS tie_t,
                   case when (n_a_h is null or n_a_h + n_b_h = 0) or (
                        2.0 * log2(cast(t_max as double))
                          + log2(cast(n_a_h + n_b_h as double)) < 62.0
                        and 1.0 + 2.0 * log2(cast(n_a_h + n_b_h as double)) < 62.0)
                   then (r2_h - n_a_h * (n_a_h + 1))::BIGINT end AS u2_a
            FROM g
        ), z AS (
            SELECT *,
                   case when n_a > 0 and n_b > 0 and
                        (n_a + n_b + 1.0) - cast(tie_t as double)
                        / (cast(n_a + n_b as double) * (n_a + n_b - 1.0)) > 0.0 then
                        cast(u2_a - n_a * n_b as double)
                        / sqrt((cast(n_a as double) * cast(n_b as double) / 3.0)
                        * ((n_a + n_b + 1.0) - cast(tie_t as double)
                        / (cast(n_a + n_b as double) * (n_a + n_b - 1.0)))) end AS zv
            FROM u
        )
        SELECT n_a, n_b, u2_a, tie_t,
               floor(zv * 1000000.0 + 0.5)::BIGINT AS z_micro,
               coalesce(abs(floor(zv * 1000000.0 + 0.5)::BIGINT)
                        >= {ABTEST_Z_CRIT_MICRO}, FALSE) AS significant,
               headroom_ok
        FROM z
    """,
}

ORACLES["attribution_markov_removal"] = _markov_oracle()


def _benford_oracle() -> str:
    values = ", ".join(f"({d}, {m})" for d, m in _benford_expect())
    return f"""
        WITH obs AS (
            SELECT substring(floor(o_totalprice * 100 + 0.5)::BIGINT::VARCHAR,
                             1, 1)::INT AS digit,
                   count(*)::BIGINT AS n_obs
            FROM orders WHERE o_totalprice > 0 GROUP BY 1
        ), expect(digit, benford_micro) AS (VALUES {values}),
        tot AS (SELECT sum(n_obs)::BIGINT AS n_total FROM obs)
        SELECT e.digit, coalesce(o.n_obs, 0)::BIGINT AS n_obs,
               e.benford_micro::BIGINT AS benford_micro,
               CASE WHEN t.n_total > 0 AND t.n_total <= 4611683712585 THEN
                 ((2000000 * coalesce(o.n_obs, 0) + t.n_total)
                  // (2 * t.n_total))::BIGINT END AS obs_freq_micro,
               CASE WHEN t.n_total > 0 AND t.n_total <= 4611683712585 THEN
                 abs((2000000 * coalesce(o.n_obs, 0) + t.n_total)
                     // (2 * t.n_total) - e.benford_micro)::BIGINT
               END AS abs_dev_micro
        FROM expect e LEFT JOIN obs o USING (digit) CROSS JOIN tot t
    """


ORACLES["benford_digit_audit"] = _benford_oracle()


ORACLES["abtest_wilson_ci"] = """
    WITH users AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ), arms AS (
        SELECT (user_id % 2)::INT AS arm, count(*)::BIGINT AS n_users,
               sum(converted)::BIGINT AS n_converted
        FROM users GROUP BY 1
    )
    SELECT arm, n_users, n_converted,
           CASE WHEN n_users > 0 THEN floor((
             (n_converted::DOUBLE / n_users
              + 1.959964 * 1.959964 / (2.0 * n_users)) -
             1.959964 * sqrt(n_converted::DOUBLE / n_users
                        * (1.0 - n_converted::DOUBLE / n_users) / n_users
                        + 1.959964 * 1.959964 / (4.0 * n_users * n_users))
           ) / (1.0 + 1.959964 * 1.959964 / n_users) * 1000000 + 0.5)::BIGINT
           END AS wilson_lo_micro,
           CASE WHEN n_users > 0 THEN floor((
             (n_converted::DOUBLE / n_users
              + 1.959964 * 1.959964 / (2.0 * n_users)) +
             1.959964 * sqrt(n_converted::DOUBLE / n_users
                        * (1.0 - n_converted::DOUBLE / n_users) / n_users
                        + 1.959964 * 1.959964 / (4.0 * n_users * n_users))
           ) / (1.0 + 1.959964 * 1.959964 / n_users) * 1000000 + 0.5)::BIGINT
           END AS wilson_hi_micro
    FROM arms
"""


def _bbit_oracle() -> str:
    from .dedup import N_PERMS, _EST_JACCARD_DUCK, _minhash_cand_ctes

    return (
        _minhash_cand_ctes()
        + f""",
        scored AS (
            SELECT doc_a, doc_b, {_EST_JACCARD_DUCK} AS est_jaccard,
                   len(list_filter(generate_series(1, {N_PERMS}),
                                   i -> sig_a[i] % 2 = sig_b[i] % 2))::BIGINT
                       AS onebit_agree
            FROM cand
        )
        SELECT doc_a, doc_b, est_jaccard, onebit_agree,
               round(greatest(0.0, onebit_agree::DOUBLE * 2.0 / {N_PERMS} - 1.0),
                     6) AS est_jaccard_1bit,
               round(abs(round(greatest(0.0,
                                onebit_agree::DOUBLE * 2.0 / {N_PERMS} - 1.0), 6)
                         - est_jaccard), 6) AS abs_err_vs_full
        FROM scored
    """
    )


ORACLES["sketch_minhash_bbit"] = _bbit_oracle()


ORACLES["abtest_chi_square"] = f"""
    WITH users AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT sum(CASE WHEN user_id % 2 = 0 AND converted = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
               sum(CASE WHEN user_id % 2 = 0 AND converted = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
               sum(CASE WHEN user_id % 2 = 1 AND converted = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
               sum(CASE WHEN user_id % 2 = 1 AND converted = 0 THEN 1 ELSE 0 END)::BIGINT AS d
        FROM users
    ), z AS (
        SELECT *,
               case when (a + b) > 0 and (c + d) > 0 and (a + c) > 0 and (b + d) > 0 then
                 cast(a + b + c + d as double)
                 * (cast(a as double) * cast(d as double)
                    - cast(b as double) * cast(c as double))
                 * (cast(a as double) * cast(d as double)
                    - cast(b as double) * cast(c as double))
                 / (cast(a + b as double) * cast(c + d as double)
                    * cast(a + c as double) * cast(b + d as double)) end AS chi2
        FROM cells
    )
    SELECT a AS n_conv_a, b AS n_nonconv_a, c AS n_conv_b, d AS n_nonconv_b,
           floor(chi2 * 1000000.0 + 0.5)::BIGINT AS chi2_micro,
           coalesce(floor(chi2 * 1000000.0 + 0.5)::BIGINT >= {CHI2_CRIT_MICRO},
                    FALSE) AS significant
    FROM z
"""


ORACLES["event_rfm_segmentation"] = """
    WITH purch AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), anchor AS (
        SELECT max(ts::DATE) AS anchor_day FROM purch
    ), users AS (
        SELECT user_id,
               min(date_diff('day', ts::DATE, a.anchor_day))::BIGINT AS recency_days,
               count(*)::BIGINT AS n_purchases,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS monetary_cents
        FROM purch CROSS JOIN anchor a GROUP BY user_id, a.anchor_day
    ), cuts AS (
        SELECT quantile_cont(recency_days, 0.2) AS r20, quantile_cont(recency_days, 0.4) AS r40,
               quantile_cont(recency_days, 0.6) AS r60, quantile_cont(recency_days, 0.8) AS r80,
               quantile_cont(n_purchases, 0.2) AS f20, quantile_cont(n_purchases, 0.4) AS f40,
               quantile_cont(n_purchases, 0.6) AS f60, quantile_cont(n_purchases, 0.8) AS f80,
               quantile_cont(monetary_cents, 0.2) AS m20, quantile_cont(monetary_cents, 0.4) AS m40,
               quantile_cont(monetary_cents, 0.6) AS m60, quantile_cont(monetary_cents, 0.8) AS m80
        FROM users
    ), scored AS (
        SELECT u.user_id, u.recency_days, u.n_purchases, u.monetary_cents,
               (5 - ((u.recency_days > c.r20)::INT + (u.recency_days > c.r40)::INT
                     + (u.recency_days > c.r60)::INT + (u.recency_days > c.r80)::INT))::INT AS r_score,
               (1 + ((u.n_purchases > c.f20)::INT + (u.n_purchases > c.f40)::INT
                     + (u.n_purchases > c.f60)::INT + (u.n_purchases > c.f80)::INT))::INT AS f_score,
               (1 + ((u.monetary_cents > c.m20)::INT + (u.monetary_cents > c.m40)::INT
                     + (u.monetary_cents > c.m60)::INT + (u.monetary_cents > c.m80)::INT))::INT AS m_score
        FROM users u CROSS JOIN cuts c
    )
    SELECT user_id, recency_days, n_purchases, monetary_cents,
           r_score, f_score, m_score,
           r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
    FROM scored
"""

ORACLES["pareto_abc_analysis"] = f"""
    WITH rev AS (
        SELECT l_partkey,
               sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
                   * (100 - floor(l_discount * 100 + 0.5)::BIGINT))::BIGINT AS rev_4
        FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT sum(rev_4)::BIGINT AS total_4 FROM rev),
    ranked AS (
        SELECT l_partkey, rev_4, t.total_4,
               sum(rev_4) OVER (ORDER BY rev_4 DESC, l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_4
        FROM rev CROSS JOIN tot t
    )
    SELECT l_partkey, (rev_4 // 100)::BIGINT AS revenue_cents,
           (cum_4 // 100)::BIGINT AS cum_revenue_cents,
           CASE WHEN cum_4 * 100 <= total_4 * {ABC_A_PCT} THEN 'A'
                WHEN cum_4 * 100 <= total_4 * {ABC_B_PCT} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
"""


def _containment_oracle() -> str:
    from .dedup import _EST_JACCARD_DUCK, _minhash_cand_ctes

    est_int = (
        "(est_jaccard / (1.0 + est_jaccard))"
        " * (n_shingles_a::DOUBLE + n_shingles_b::DOUBLE)"
    )
    return (
        _minhash_cand_ctes()
        + f""",
        pairs AS (
            SELECT doc_a, doc_b, {_EST_JACCARD_DUCK} AS est_jaccard FROM cand
        ),
        sizes AS (
            SELECT doc_id, count(*)::INT AS n_sh FROM shingled GROUP BY doc_id
        ),
        joined AS (
            SELECT p.doc_a, p.doc_b,
                   sa.n_sh AS n_shingles_a, sb.n_sh AS n_shingles_b,
                   p.est_jaccard
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.doc_a
            JOIN sizes sb ON sb.doc_id = p.doc_b
        )
        SELECT doc_a, doc_b, n_shingles_a, n_shingles_b, est_jaccard,
               CASE WHEN n_shingles_a > 0 THEN floor({est_int}
                 / n_shingles_a::DOUBLE * 1000000.0 + 0.5)::BIGINT
               END AS est_containment_a_micro,
               CASE WHEN n_shingles_b > 0 THEN floor({est_int}
                 / n_shingles_b::DOUBLE * 1000000.0 + 0.5)::BIGINT
               END AS est_containment_b_micro
        FROM joined
    """
    )


ORACLES["sketch_minhash_containment"] = _containment_oracle()


ORACLES["stats_spearman_corr"] = """
    WITH users AS (
        SELECT user_id, count(*)::BIGINT AS x,
               sum(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS y
        FROM events GROUP BY user_id
    ), rx AS (
        SELECT x, (2 * coalesce(sum(t) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1)::BIGINT AS r2x
        FROM (SELECT x, count(*)::BIGINT AS t FROM users GROUP BY x)
    ), ry AS (
        SELECT y, (2 * coalesce(sum(t) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1)::BIGINT AS r2y
        FROM (SELECT y, count(*)::BIGINT AS t FROM users GROUP BY y)
    ), ranked AS (
        SELECT r2x, r2y FROM users u JOIN rx USING (x) JOIN ry USING (y)
    ), g AS (
        SELECT count(*)::BIGINT AS n_users,
               sum(r2x)::BIGINT AS sx, sum(r2y)::BIGINT AS sy,
               sum(r2x * r2x)::BIGINT AS sxx, sum(r2y * r2y)::BIGINT AS syy,
               sum(r2x * r2y)::BIGINT AS sxy
        FROM ranked
    ), ok AS (
        SELECT *, CASE WHEN n_users <= 1 THEN true
                  ELSE 2.0 + 3.0 * log2(n_users::DOUBLE) < 62.0 END AS headroom_ok
        FROM g
    )
    SELECT n_users,
           CASE WHEN headroom_ok THEN sxy::BIGINT END AS sxy,
           CASE WHEN headroom_ok THEN
             CASE WHEN n_users > 1
                   AND n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
                   AND n_users::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0.0
             THEN floor((n_users::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / sqrt((n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                         * (n_users::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                  * 1000000.0 + 0.5)::BIGINT END
           END AS rho_micro,
           headroom_ok
    FROM ok
"""

ORACLES["revenue_gini_lorenz"] = f"""
    WITH rev AS (
        SELECT o_custkey,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i,
               ntile({LORENZ_BUCKETS}) OVER (ORDER BY cents ASC, o_custkey ASC) AS bucket
        FROM rev
    ), scalars AS (
        SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS total_cents,
               max(cents)::BIGINT AS max_cents,
               sum((2 * i - 1) * cents)::BIGINT AS g2_plus_nt
        FROM ranked
    ), sc AS (
        SELECT n, total_cents,
               CASE WHEN ok THEN
                 CASE WHEN n > 1 AND total_cents > 0 THEN
                   floor((g2_plus_nt - n * total_cents)::DOUBLE
                         / (n::DOUBLE * total_cents::DOUBLE)
                         * 1000000.0 + 0.5)::BIGINT END
               END AS gini_micro,
               ok AS headroom_ok
        FROM (
            SELECT *, CASE WHEN n <= 1 OR total_cents = 0 THEN true
                      ELSE 1.0 + 2.0 * log2(n::DOUBLE)
                           + log2(greatest(max_cents, 1)::DOUBLE) < 62.0 END AS ok
            FROM scalars
        )
    ), buckets AS (
        SELECT bucket, count(*)::BIGINT AS n_customers,
               sum(cents)::BIGINT AS revenue_cents
        FROM ranked GROUP BY bucket
    )
    SELECT bucket, n_customers, revenue_cents,
           CASE WHEN total_cents > 0 THEN
             floor((sum(revenue_cents) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
                   / total_cents::DOUBLE * 1000000.0 + 0.5)::BIGINT END AS cum_share_micro,
           gini_micro, headroom_ok
    FROM buckets CROSS JOIN sc
"""

ORACLES["abtest_cramers_v"] = """
    WITH cells AS (
        SELECT event_type, (user_id % 2)::INT AS arm, count(*)::BIGINT AS o
        FROM events GROUP BY event_type, arm
    ), row_tot AS (
        SELECT event_type, sum(o)::BIGINT AS row_n FROM cells GROUP BY event_type
    ), col_tot AS (
        SELECT arm, sum(o)::BIGINT AS col_n FROM cells GROUP BY arm
    ), n_tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
    grid AS (
        SELECT r.event_type, c.arm, r.row_n, c.col_n, n.n,
               coalesce(cl.o, 0)::BIGINT AS o
        FROM row_tot r CROSS JOIN col_tot c
        LEFT JOIN cells cl ON cl.event_type = r.event_type AND cl.arm = c.arm
        CROSS JOIN n_tot n
    ), g AS (
        SELECT max(n)::BIGINT AS n_total,
               count(DISTINCT event_type)::BIGINT AS n_rows,
               count(DISTINCT arm)::BIGINT AS n_cols,
               sum(floor((o::DOUBLE - row_n::DOUBLE * col_n::DOUBLE / n::DOUBLE)
                         * (o::DOUBLE - row_n::DOUBLE * col_n::DOUBLE / n::DOUBLE)
                         / (row_n::DOUBLE * col_n::DOUBLE / n::DOUBLE)
                         * 1000000.0 + 0.5)::BIGINT)::BIGINT AS chi2_micro
        FROM grid
    )
    SELECT n_rows, n_cols, n_total, chi2_micro,
           CASE WHEN n_total > 0 AND least(n_rows, n_cols) > 1 THEN
             floor(sqrt(chi2_micro::DOUBLE / 1000000.0
                        / (n_total::DOUBLE * (least(n_rows, n_cols) - 1)::DOUBLE))
                   * 1000000.0 + 0.5)::BIGINT END AS cramers_v_micro
    FROM g
"""


#: Kaplan-Meier churn definition: a user whose last event precedes the
#: corpus anchor (global max event day) by MORE than this many days is an
#: observed churn; later activity means right-censored at the anchor.
KM_CHURN_GAP_DAYS = 7


def q_survival_kaplan_meier(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival table (Kaplan & Meier 1958) over user
    lifetimes: duration = days between a user's first and last event;
    the event ("churn") is observed when the user's last activity
    precedes the corpus anchor by more than KM_CHURN_GAP_DAYS, otherwise
    the lifetime is right-censored — the standard retention-curve
    estimator product analytics runs on exactly this shape.

    S(d) = prod_{d_i <= d} (1 - e_i / n_i) with n_i = users at risk at
    duration d_i and e_i = observed churns at d_i. The survival estimate
    ships in LOG space as exact integer micro-nats (cum_neg_log_micro =
    -sum ln(1 - e/n), each factor floored ONCE to micro-nats then
    integer-summed — the ccnet_perplexity discipline): measured on this
    host, JVM exp() and DuckDB exp() disagree at 1 ulp on ~87 of 2.8M
    inputs, so publishing exp(S) would be a latent hash flake; callers
    exponentiate client-side. Rows where e_i = n_i (everyone at risk
    churns — S hits exactly 0, -ln S = inf) publish NULL cum with
    survival_zero = true, ANSI-safe.

    Scale shape: one combine-friendly user-level aggregate (first/last
    event day), one groupBy(duration) to the DISTINCT-DURATION table
    (bounded by the observation window in days, not by users), a
    reverse running sum for n_at_risk and a forward running sum for the
    cumulative log — both windows over the tiny duration table (the
    Mann-Whitney sorted-aggregate discipline). Nothing user-sized is
    sorted."""
    events = load(spark, sf, "events")
    anchor = events.agg(F.max(F.to_date("ts")).alias("anchor_day"))
    users = (
        events.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.expr("cast(datediff(last_day, first_day) as bigint)").alias(
                "duration_days"
            ),
            F.expr(
                f"cast(datediff(anchor_day, last_day) > {KM_CHURN_GAP_DAYS} as int)"
            ).alias("observed"),
        )
    )
    return kaplan_meier(users)


def kaplan_meier(
    lifetimes: DataFrame,
    *,
    duration_col: str = "duration_days",
    observed_col: str = "observed",
) -> DataFrame:
    """Kaplan-Meier survival table for ANY unit-level (duration, 0/1
    observed-event) frame — (duration_days, n_at_risk, d_events,
    n_censored, cum_neg_log_micro, survival_zero); the estimate ships in
    exact integer micro-nat LOG space (exponentiate client-side — see
    `q_survival_kaplan_meier` for the 1-ulp exp() rationale)."""
    users = lifetimes.select(
        F.col(duration_col).alias("duration_days"),
        F.col(observed_col).alias("observed"),
    )
    dur = users.groupBy("duration_days").agg(
        F.count("*").alias("n_total"), F.sum("observed").alias("d_events")
    )
    w_risk = Window.orderBy("duration_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = dur.withColumn("n_at_risk", F.sum("n_total").over(w_risk))
    factor = F.expr(
        "case when d_events = 0 then 0"
        " when d_events < n_at_risk then"
        " cast(floor(-ln(1.0 - cast(d_events as double)"
        " / cast(n_at_risk as double)) * 1000000.0 + 0.5) as bigint) end"
    )
    stepped = at_risk.withColumn("step_micro", factor).withColumn(
        "cum_neg_log_micro", F.sum("step_micro").over(w_cum)
    )
    # a NULL step (e = n: survival hits exactly 0) nulls every later
    # cumulative sum via this flag — Spark's sum() skips NULLs, so the
    # raw window alone would silently resurrect a dead curve
    dead = F.max(F.col("step_micro").isNull().cast("int")).over(w_cum)
    return stepped.select(
        "duration_days",
        "n_at_risk",
        "d_events",
        (F.col("n_total") - F.col("d_events")).alias("n_censored"),
        F.when(dead == 0, F.col("cum_neg_log_micro")).alias("cum_neg_log_micro"),
        (dead > 0).alias("survival_zero"),
    )


ORACLES["survival_kaplan_meier"] = f"""
    WITH anchor AS (SELECT max(ts::DATE) AS anchor_day FROM events),
    users AS (
        SELECT date_diff('day', min(ts::DATE), max(ts::DATE))::BIGINT AS duration_days,
               (date_diff('day', max(ts::DATE), a.anchor_day)
                > {KM_CHURN_GAP_DAYS})::INT AS observed
        FROM events CROSS JOIN anchor a GROUP BY user_id, a.anchor_day
    ), dur AS (
        SELECT duration_days, count(*)::BIGINT AS n_total,
               sum(observed)::BIGINT AS d_events
        FROM users GROUP BY duration_days
    ), at_risk AS (
        SELECT *, sum(n_total) OVER (ORDER BY duration_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT
                   AS n_at_risk
        FROM dur
    ), stepped AS (
        SELECT *,
               CASE WHEN d_events = 0 THEN 0
                    WHEN d_events < n_at_risk THEN
                      floor(-ln(1.0 - d_events::DOUBLE / n_at_risk::DOUBLE)
                            * 1000000.0 + 0.5)::BIGINT END AS step_micro
        FROM at_risk
    ), flagged AS (
        SELECT *,
               sum(step_micro) OVER (ORDER BY duration_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                   AS cum_raw,
               max((step_micro IS NULL)::INT) OVER (ORDER BY duration_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        FROM stepped
    )
    SELECT duration_days, n_at_risk, d_events,
           (n_total - d_events)::BIGINT AS n_censored,
           CASE WHEN dead = 0 THEN cum_raw END AS cum_neg_log_micro,
           dead > 0 AS survival_zero
    FROM flagged
"""
QUERIES["survival_kaplan_meier"] = q_survival_kaplan_meier


#: market-basket mining bounds: orders larger than BASKET_MAX items are
#: excluded (the per-order pair expansion is quadratic in basket size — the
#: skew guard), pairs must co-occur at least BASKET_MIN_SUPPORT times, and
#: the report is the top BASKET_TOPK by lift
BASKET_MAX = 50
BASKET_MIN_SUPPORT = 2
BASKET_TOPK = 30


def q_basket_lift_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association pairs (Agrawal & Srikant 1994 support
    framework): for parts co-purchased in the same order, support counts
    and lift = N * supp(a,b) / (supp(a) * supp(b)) — lift > 1 flags
    genuinely associated items against the independence baseline; the
    co-occurrence primitive every recommender bootstrap runs.

    Pair generation is an equi-self-join on l_orderkey with part_a <
    part_b — quadratic ONLY within one order, and orders larger than
    BASKET_MAX items are excluded first (the skew guard: one degenerate
    mega-order would otherwise expand to billions of pairs in one task;
    the cap is the standard basket-mining hygiene, mirrored exactly in
    the oracle). Item supports count DISTINCT ORDERS per part from the
    same deduplicated (order, part) frame both sides of the join read.

    Determinism: supports and N are exact integers; lift is one fixed
    double expression floored to micros; the top-k orders by the integer
    micro lift with (part_a, part_b) tiebreak.

    100 TB (r14 reshape): the former orderkey self-join (plus the
    basket-size pre-aggregate and its back-join) is replaced by ONE
    groupBy(l_orderkey) to a sorted basket array — the size cap becomes a
    map-side filter on size(basket), and in-basket pairs expand by a
    higher-order transform (quadratic only within one ≤BASKET_MAX basket,
    the same bound the join form enforced; the one-array-per-order
    aggregation buffer is linear in basket size). Supports and N derive
    from the same basket frame by a map-side explode, so the distinct
    (order, part) stream is scanned once instead of four times. Pair
    counts stay combine-friendly shuffles; the cut is a global
    TakeOrdered. No collect, no window, no cartesian, two fewer
    exchanges."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    order_part = li.distinct()
    baskets = (
        order_part.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("ps"))
        .where(F.size("ps") <= BASKET_MAX)
        # r15: r14 pin REVERTED under the fixed harness (unpinned 1.40 vs
        # pinned 1.87 min-of-6 paired) — pairs/supports/N share one plan,
        # ReusedExchange covers the basket groupBy
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        "           y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("supp_ab"))
        .where(F.col("supp_ab") >= BASKET_MIN_SUPPORT)
    )
    exploded = baskets.select(F.explode("ps").alias("l_partkey"))
    supp = exploded.groupBy("l_partkey").agg(F.count("*").alias("supp"))
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    lift = F.expr(
        "cast(floor(cast(n_orders as double) * cast(supp_ab as double)"
        " / (cast(supp_a as double) * cast(supp_b as double))"
        " * 1000000.0 + 0.5) as bigint)"
    )
    return (
        pairs.join(
            supp.select(F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")),
            "part_a",
        )
        .join(
            supp.select(F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "supp_ab", "supp_a", "supp_b",
            lift.alias("lift_micro"),
        )
        .orderBy(
            F.col("lift_micro").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(BASKET_TOPK)
    )


ORACLES["basket_lift_pairs"] = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), ok_orders AS (
        SELECT l_orderkey FROM op GROUP BY l_orderkey
        HAVING count(*) <= {BASKET_MAX}
    ), opc AS (
        SELECT op.* FROM op JOIN ok_orders USING (l_orderkey)
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*)::BIGINT AS supp_ab
        FROM opc a JOIN opc b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {BASKET_MIN_SUPPORT}
    ), supp AS (
        SELECT l_partkey, count(*)::BIGINT AS supp FROM opc GROUP BY l_partkey
    ), n_t AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM opc)
    SELECT part_a, part_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
           floor(n_orders::DOUBLE * supp_ab::DOUBLE
                 / (sa.supp::DOUBLE * sb.supp::DOUBLE)
                 * 1000000.0 + 0.5)::BIGINT AS lift_micro
    FROM pairs JOIN supp sa ON sa.l_partkey = part_a
               JOIN supp sb ON sb.l_partkey = part_b
               CROSS JOIN n_t
    ORDER BY lift_micro DESC, part_a ASC, part_b ASC
    LIMIT {BASKET_TOPK}
"""
QUERIES["basket_lift_pairs"] = q_basket_lift_pairs


def q_incremental_agg_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance: refresh a per-status (count, revenue)
    aggregate from the CDC change set alone — base aggregate plus signed
    delta contributions — and prove the algebra by joining the refreshed
    view against a full recompute over the new snapshot (matched = true
    on every row is part of the hash-checked result). This is the
    standard "maintain the materialized view without rescanning the
    fact table" pattern (Gupta & Mumick 1995 taxonomy): at 100 TB the
    base aggregate is the stored view, the change set is a day's CDC
    feed, and ONLY the delta term scans new data.

    Delta construction: the same full outer join as table_change_log;
    every changed key emits a negative (old_status, -1, -old_cents)
    contribution when present in A and a positive (new_status, +1,
    +new_cents) when present in B — status CHANGES move mass between
    groups, which naive "update in place" maintenance gets wrong.

    Determinism: money in exact integer cents end to end; counts exact;
    the matched flag compares integers. Scale shape: key-partitioned
    full outer join (unique keys per side), two tiny status-keyed
    aggregates, broadcast-joined census. Nothing wide after the join."""
    base = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    snap_b = (
        q_merge_upsert(spark, sf)
        .where(F.col("o_orderkey") % CDC_DELETE_MOD != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
        )
    )
    base_agg = base.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n0"), F.sum("cents").alias("c0")
    )
    a = base.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status_a"),
        F.col("cents").alias("cents_a"),
    )
    b = snap_b.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status_b"),
        F.col("cents").alias("cents_b"),
    )
    changed = a.join(b, "key", "full_outer").where(
        F.col("status_a").isNull()
        | F.col("status_b").isNull()
        | (F.col("status_a") != F.col("status_b"))
        | (F.col("cents_a") != F.col("cents_b"))
    )
    neg = changed.where(F.col("status_a").isNotNull()).select(
        F.col("status_a").alias("status"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.col("cents_a")).alias("dc"),
    )
    pos = changed.where(F.col("status_b").isNotNull()).select(
        F.col("status_b").alias("status"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("cents_b").alias("dc"),
    )
    delta = neg.unionAll(pos).groupBy("status").agg(
        F.sum("dn").alias("dn"), F.sum("dc").alias("dc")
    )
    refreshed = (
        base_agg.join(delta, "status", "full_outer")
        .select(
            "status",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_orders"
            ),
            (F.coalesce("c0", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias(
                "revenue_cents"
            ),
        )
        .where(F.col("n_orders") > 0)
    )
    recompute = snap_b.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_full"), F.sum("cents").alias("c_full")
    )
    return refreshed.join(F.broadcast(recompute), "status", "full_outer").select(
        "status",
        "n_orders",
        "revenue_cents",
        (
            (F.col("n_orders") == F.col("n_full"))
            & (F.col("revenue_cents") == F.col("c_full"))
        ).alias("matched"),
    )


ORACLES["incremental_agg_refresh"] = f"""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders
    ), updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               floor((o_totalprice + 50.0) * 100 + 0.5)::BIGINT AS cents
        FROM orders WHERE o_orderkey % {UPSERT_UPDATE_MOD} = 0
    ), inserts AS (
        SELECT o_orderkey + {UPSERT_KEY_SHIFT} AS o_orderkey,
               'N' AS o_orderstatus,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders WHERE o_orderkey % {UPSERT_INSERT_MOD} = 0
    ), snap_b AS (
        SELECT * FROM (
            SELECT * FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
            UNION ALL SELECT * FROM updates
            UNION ALL SELECT * FROM inserts
        ) WHERE o_orderkey % {CDC_DELETE_MOD} != 0
    ), base_agg AS (
        SELECT o_orderstatus AS status, count(*)::BIGINT AS n0,
               sum(cents)::BIGINT AS c0
        FROM base GROUP BY 1
    ), changed AS (
        SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
               a.o_orderstatus AS status_a, b.o_orderstatus AS status_b,
               a.cents AS cents_a, b.cents AS cents_b
        FROM base a FULL OUTER JOIN snap_b b USING (o_orderkey)
        WHERE a.o_orderstatus IS NULL OR b.o_orderstatus IS NULL
           OR a.o_orderstatus != b.o_orderstatus OR a.cents != b.cents
    ), delta AS (
        SELECT status, sum(dn)::BIGINT AS dn, sum(dc)::BIGINT AS dc FROM (
            SELECT status_a AS status, -1::BIGINT AS dn, -cents_a AS dc
            FROM changed WHERE status_a IS NOT NULL
            UNION ALL
            SELECT status_b AS status, 1::BIGINT AS dn, cents_b AS dc
            FROM changed WHERE status_b IS NOT NULL
        ) GROUP BY status
    ), refreshed AS (
        SELECT coalesce(ba.status, d.status) AS status,
               (coalesce(ba.n0, 0) + coalesce(d.dn, 0))::BIGINT AS n_orders,
               (coalesce(ba.c0, 0) + coalesce(d.dc, 0))::BIGINT AS revenue_cents
        FROM base_agg ba FULL OUTER JOIN delta d ON ba.status = d.status
    ), pruned AS (
        SELECT * FROM refreshed WHERE n_orders > 0
    ), recompute AS (
        SELECT o_orderstatus AS status, count(*)::BIGINT AS n_full,
               sum(cents)::BIGINT AS c_full
        FROM snap_b GROUP BY 1
    )
    SELECT coalesce(p.status, r.status) AS status, p.n_orders, p.revenue_cents,
           (p.n_orders = r.n_full AND p.revenue_cents = r.c_full) AS matched
    FROM pruned p FULL OUTER JOIN recompute r ON p.status = r.status
"""
QUERIES["incremental_agg_refresh"] = q_incremental_agg_refresh


#: deterministic versioned edit script for the time-travel read: v1
#: surcharges every UPSERT_UPDATE_MOD-th key by $50, v2 deletes every
#: CDC_DELETE_MOD-th key, v3 re-statuses every ASOF_RESTATUS_MOD-th key
ASOF_RESTATUS_MOD = 7
ASOF_VERSION = 2  # the reconstructed snapshot version (after v2, before v3)


def q_table_snapshot_asof(spark: SparkSession, sf: str) -> DataFrame:
    """Time-travel read ("SELECT ... AS OF version"): reconstruct the
    orders table at ASOF_VERSION by folding a versioned change log onto
    the base snapshot — the lakehouse table-format primitive (Delta/
    Iceberg version travel) restated as pure relational algebra: latest
    log entry per key with version <= ASOF_VERSION wins; absent keys
    keep their base row; delete entries tombstone.

    The edit script is deterministic (v1 surcharge, v2 delete, v3
    re-status): reading AS OF version 2 must show v1+v2 applied and v3
    ABSENT — the hash-checked census proves both the apply and the
    version cut. Result ships as the per-status census (count, key
    checksum, cents) like table_change_log, so the whole reconstruction
    is value-verified without shipping row-level output.

    Scale shape: the winner-per-key cut is a WindowGroupLimit-style
    row_number over the LOG (log-sized, partitioned by key — at 100 TB
    the log is days of CDC, orders of magnitude under the table), then
    one key-partitioned left join onto base + census aggregate."""
    base = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    v1 = base.where(F.col("o_orderkey") % UPSERT_UPDATE_MOD == 0).select(
        F.lit(1).alias("version"),
        "o_orderkey",
        F.lit("upsert").alias("op"),
        F.lit("U").alias("new_status"),
        (F.col("cents") + 5000).alias("new_cents"),
    )
    v2 = base.where(F.col("o_orderkey") % CDC_DELETE_MOD == 0).select(
        F.lit(2).alias("version"),
        "o_orderkey",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("new_status"),
        F.lit(None).cast("bigint").alias("new_cents"),
    )
    v3 = base.where(F.col("o_orderkey") % ASOF_RESTATUS_MOD == 0).select(
        F.lit(3).alias("version"),
        "o_orderkey",
        F.lit("upsert").alias("op"),
        F.lit("T").alias("new_status"),
        F.col("cents").alias("new_cents"),
    )
    log = v1.unionAll(v2).unionAll(v3).where(F.col("version") <= ASOF_VERSION)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    winner = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    asof = (
        base.join(winner, "o_orderkey", "left")
        .where((F.col("op").isNull()) | (F.col("op") != "delete"))
        .select(
            "o_orderkey",
            F.coalesce("new_status", "o_orderstatus").alias("status"),
            F.coalesce("new_cents", "cents").alias("cents_asof"),
        )
    )
    return asof.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        F.sum("cents_asof").alias("revenue_cents"),
    )


ORACLES["table_snapshot_asof"] = f"""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders
    ), log AS (
        SELECT 1 AS version, o_orderkey, 'upsert' AS op,
               'U' AS new_status, cents + 5000 AS new_cents
        FROM base WHERE o_orderkey % {UPSERT_UPDATE_MOD} = 0
        UNION ALL
        SELECT 2, o_orderkey, 'delete', NULL, NULL
        FROM base WHERE o_orderkey % {CDC_DELETE_MOD} = 0
        UNION ALL
        SELECT 3, o_orderkey, 'upsert', 'T', cents
        FROM base WHERE o_orderkey % {ASOF_RESTATUS_MOD} = 0
    ), cut AS (
        SELECT * FROM log WHERE version <= {ASOF_VERSION}
    ), winner AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey
                       ORDER BY version DESC) AS rn
            FROM cut
        ) WHERE rn = 1
    ), recon AS (
        SELECT b.o_orderkey,
               coalesce(w.new_status, b.o_orderstatus) AS status,
               coalesce(w.new_cents, b.cents)::BIGINT AS cents_asof
        FROM base b LEFT JOIN winner w USING (o_orderkey)
        WHERE w.op IS NULL OR w.op != 'delete'
    )
    SELECT status, count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS key_checksum,
           sum(cents_asof)::BIGINT AS revenue_cents
    FROM recon GROUP BY status
"""
QUERIES["table_snapshot_asof"] = q_table_snapshot_asof


def q_stats_kendall_tau(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall's tau-b (Kendall 1938; tau-b tie correction) between
    per-user event count and per-user PURCHASE count — the
    concordance-based companion to stats_spearman_corr, preferred when
    the metrics are small discrete counts (exactly this pair) because
    its tie handling is exact rather than rank-averaged.

    Concordant/discordant pairs count on the JOINT DISTINCT-VALUE
    contingency table, not on user pairs: cells (x, y, t) pair via a
    one-sided non-equi self-join ((x1, y1) < (x2, y2) lexicographically)
    and contribute t1*t2 to C when the coordinate signs agree, to D when
    they oppose — O(|cells|^2) work where |cells| is bounded by the
    VALUE-DOMAIN product (two small count domains), never by users; the
    broadcast nested-loop this plans to is over the domain-sized table
    (the event_transition_matrix |domain|^2 precedent).

        tau_b = (C - D) / sqrt((n0 - t_x) * (n0 - t_y)),
        n0 = n(n-1)/2, t_x = sum_x t(t-1)/2, t_y likewise.

    Determinism: every count is an exact integer; n0/tx/ty use integer
    div by 2 (t and t-1 have opposite parity — exact); tau_b is one
    fixed double expression floored to micros. int64-headroom guard
    (ENFORCED): C, D, n0 are all bounded by n^2/2, so the guard reads
    only n: 2*log2(n) < 62 (wraps past ~2.1e9 users); tripped -> NULL
    tau LOUDLY, mirrored in the oracle."""
    events = load(spark, sf, "events")
    users = events.groupBy("user_id").agg(
        F.count("*").alias("x"),
        F.sum(F.expr("if(event_type = 'purchase', 1, 0)")).alias("y"),
    )
    cells = users.groupBy("x", "y").agg(F.count("*").alias("t"))
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("t").alias("t1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("t").alias("t2")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("x1") < F.col("x2"))
        | ((F.col("x1") == F.col("x2")) & (F.col("y1") < F.col("y2"))),
    )
    # the pair join is EMPTY when only one distinct cell exists (a corpus
    # where every user has identical metrics): sum-over-empty is NULL in
    # both engines, but zero concordances is the true value
    cd = pairs.agg(
        F.coalesce(
            F.sum(
                F.expr(
                    "if((x2 - x1) * (y2 - y1) > 0, cast(t1 as bigint) * t2, 0)"
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("n_concordant"),
        F.coalesce(
            F.sum(
                F.expr(
                    "if((x2 - x1) * (y2 - y1) < 0, cast(t1 as bigint) * t2, 0)"
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("n_discordant"),
    )
    marg = cells.agg(
        F.sum("t").alias("n"),
        F.sum(F.expr("t * (t - 1) div 2")).alias("t_xy"),
    )
    tx = cells.groupBy("x").agg(F.sum("t").alias("tv")).agg(
        F.sum(F.expr("tv * (tv - 1) div 2")).alias("ties_x")
    )
    ty = cells.groupBy("y").agg(F.sum("t").alias("tv")).agg(
        F.sum(F.expr("tv * (tv - 1) div 2")).alias("ties_y")
    )
    g = (
        cd.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    ok = F.expr("case when n <= 1 then true else 2.0 * log2(cast(n as double)) < 62.0 end")
    tau = F.expr(
        "case when n > 1"
        " and n * (n - 1) div 2 - ties_x > 0"
        " and n * (n - 1) div 2 - ties_y > 0 then"
        " cast(n_concordant - n_discordant as double)"
        " / sqrt(cast(n * (n - 1) div 2 - ties_x as double)"
        "        * cast(n * (n - 1) div 2 - ties_y as double)) end"
    )
    return g.select(
        F.col("n").alias("n_users"),
        F.when(ok, F.col("n_concordant")).alias("n_concordant"),
        F.when(ok, F.col("n_discordant")).alias("n_discordant"),
        "ties_x",
        "ties_y",
        F.when(ok, F.floor(tau * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "tau_b_micro"
        ),
        ok.alias("headroom_ok"),
    )


ORACLES["stats_kendall_tau"] = """
    WITH users AS (
        SELECT user_id, count(*)::BIGINT AS x,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT x, y, count(*)::BIGINT AS t FROM users GROUP BY x, y
    ), cd AS (
        SELECT coalesce(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                        THEN a.t * b.t ELSE 0 END), 0)::BIGINT AS n_concordant,
               coalesce(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                        THEN a.t * b.t ELSE 0 END), 0)::BIGINT AS n_discordant
        FROM cells a JOIN cells b
          ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
    ), marg AS (
        SELECT sum(t)::BIGINT AS n FROM cells
    ), tx AS (
        SELECT sum(tv * (tv - 1) // 2)::BIGINT AS ties_x
        FROM (SELECT sum(t)::BIGINT AS tv FROM cells GROUP BY x)
    ), ty AS (
        SELECT sum(tv * (tv - 1) // 2)::BIGINT AS ties_y
        FROM (SELECT sum(t)::BIGINT AS tv FROM cells GROUP BY y)
    ), g AS (
        SELECT * FROM cd CROSS JOIN marg CROSS JOIN tx CROSS JOIN ty
    ), ok_t AS (
        SELECT *, CASE WHEN n <= 1 THEN true
                  ELSE 2.0 * log2(n::DOUBLE) < 62.0 END AS headroom_ok
        FROM g
    )
    SELECT n AS n_users,
           CASE WHEN headroom_ok THEN n_concordant END AS n_concordant,
           CASE WHEN headroom_ok THEN n_discordant END AS n_discordant,
           ties_x, ties_y,
           CASE WHEN headroom_ok THEN
             CASE WHEN n > 1 AND n * (n - 1) // 2 - ties_x > 0
                       AND n * (n - 1) // 2 - ties_y > 0 THEN
               floor((n_concordant - n_discordant)::DOUBLE
                     / sqrt((n * (n - 1) // 2 - ties_x)::DOUBLE
                            * (n * (n - 1) // 2 - ties_y)::DOUBLE)
                     * 1000000.0 + 0.5)::BIGINT END
           END AS tau_b_micro,
           headroom_ok
    FROM ok_t
"""
QUERIES["stats_kendall_tau"] = q_stats_kendall_tau


#: Shapley channel universe: the four non-purchase event types, one bit each
SHAPLEY_CHANNELS = ("click", "error", "signup", "view")


def _shapley_coef() -> list[tuple[int, int]]:
    """(|S|, |S|! * (C-1-|S|)!) for subset sizes 0..C-1 — the Shapley
    weights scaled by C! so they are exact integers, precomputed in
    Python and shipped to both engines as a literal table."""
    import math

    c = len(SHAPLEY_CHANNELS)
    return [(s, math.factorial(s) * math.factorial(c - 1 - s)) for s in range(c)]


def q_attribution_shapley(spark: SparkSession, sf: str) -> DataFrame:
    """Shapley-value channel attribution (Shapley 1953; the data-driven
    marketing form, e.g. Zhao et al. 2018) — the axiomatic companion to
    attribution_markov_removal: each channel's credit is its average
    marginal contribution over all orderings, computed exactly because
    the channel universe is small (C = 4 -> 16 coalitions).

    Characteristic function: v(S) = conversions among users whose
    pre-conversion journey (the SET of channel types touched before
    their first purchase; non-converters contribute their full journey
    as a non-converting path) is CONTAINED in S — the "coalition S could
    have produced these conversions" reading. phi_i = sum over S not
    containing i of |S|!(C-1-|S|)!/C! * (v(S+i) - v(S)), computed with
    C!-scaled INTEGER weights from a Python-precomputed literal table
    (the _aa_weights discipline) so every intermediate is exact; the
    only division is the final micro quantization, and efficiency
    (sum phi_i = v(full) - v(empty)) is exposed as hash-checked columns.

    Scale shape: one combine-friendly user aggregate (bitmask OR + first
    purchase), one 16-row journey aggregate; everything after operates
    on 16-row / 64-row literal-joined tables (the transition-matrix
    |domain| precedent). Nothing user-sized moves twice."""
    c = len(SHAPLEY_CHANNELS)
    n_coal = 1 << c
    events = load(spark, sf, "events")
    bit = "case " + " ".join(
        f"when event_type = '{ch}' then {1 << i}"
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    ) + " else 0 end"
    first_p = events.where(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t_conv"))
    journeys = (
        events.join(F.broadcast(first_p), "user_id", "left")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("t_conv").isNull() | (F.col("ts") < F.col("t_conv")))
        )
        .groupBy("user_id")
        .agg(
            F.expr(f"bit_or({bit})").alias("mask"),
            F.max(F.col("t_conv").isNotNull().cast("int")).alias("converted"),
        )
        .groupBy("mask")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("converted").alias("n_conv"),
        )
    )
    coal = spark.range(n_coal).select(F.col("id").cast("int").alias("s"))
    v = (
        coal.join(
            F.broadcast(journeys),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("v"))
    )
    coef = spark.createDataFrame(_shapley_coef(), "sz int, wt bigint")
    chan = spark.createDataFrame(
        [(i, ch) for i, ch in enumerate(SHAPLEY_CHANNELS)], "bit int, channel string"
    )
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v_s"))
    v2 = v.select(F.col("s").alias("s2"), F.col("v").alias("v_si"))
    marginals = (
        chan.crossJoin(v1)
        .where(F.expr("(s1 & shiftleft(1, bit)) = 0"))
        .withColumn("s2", F.expr("s1 + shiftleft(1, bit)"))
        .join(F.broadcast(v2), "s2")
        .withColumn("sz", F.expr(f"bit_count(cast(s1 as bigint))").cast("int"))
        .join(F.broadcast(coef), "sz")
    )
    phi = marginals.groupBy("bit", "channel").agg(
        F.sum(F.col("wt") * (F.col("v_si") - F.col("v_s"))).alias("phi_cfact")
    )
    totals = v.agg(
        F.max(F.when(F.col("s") == n_coal - 1, F.col("v"))).alias("v_full"),
        F.max(F.when(F.col("s") == 0, F.col("v"))).alias("v_empty"),
    )
    import math as _math

    cfact = _math.factorial(c)
    return (
        phi.crossJoin(F.broadcast(totals))
        .select(
            "channel",
            "phi_cfact",
            F.expr(
                f"cast(floor(cast(phi_cfact as double) / {cfact}.0"
                " * 1000000.0 + 0.5) as bigint)"
            ).alias("phi_micro"),
            "v_full",
            "v_empty",
        )
        .orderBy(F.col("phi_cfact").desc(), F.col("channel").asc())
    )


def _shapley_oracle() -> str:
    c = len(SHAPLEY_CHANNELS)
    n_coal = 1 << c
    import math

    cfact = math.factorial(c)
    bit = "CASE " + " ".join(
        f"WHEN event_type = '{ch}' THEN {1 << i}"
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    ) + " ELSE 0 END"
    coef_vals = ", ".join(f"({s}, {w})" for s, w in _shapley_coef())
    chan_vals = ", ".join(
        f"({i}, '{ch}')" for i, ch in enumerate(SHAPLEY_CHANNELS)
    )
    return f"""
        WITH first_p AS (
            SELECT user_id, min(ts) AS t_conv FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ), journeys AS (
            SELECT mask, count(*)::BIGINT AS n_total,
                   sum(converted)::BIGINT AS n_conv
            FROM (
                SELECT e.user_id,
                       bit_or({bit})::INT AS mask,
                       max((p.t_conv IS NOT NULL)::INT) AS converted
                FROM events e LEFT JOIN first_p p USING (user_id)
                WHERE e.event_type != 'purchase'
                  AND (p.t_conv IS NULL OR e.ts < p.t_conv)
                GROUP BY e.user_id
            ) GROUP BY mask
        ), coal AS (
            SELECT unnest(generate_series(0, {n_coal - 1}))::INT AS s
        ), v AS (
            SELECT s, coalesce(sum(j.n_conv), 0)::BIGINT AS v
            FROM coal LEFT JOIN journeys j ON (j.mask & coal.s) = j.mask
            GROUP BY s
        ), coef(sz, wt) AS (VALUES {coef_vals}),
        chan(bit, channel) AS (VALUES {chan_vals}),
        marginals AS (
            SELECT ch.bit, ch.channel, v1.s AS s1,
                   bit_count(v1.s::BIGINT)::INT AS sz,
                   v1.v AS v_s, v2.v AS v_si
            FROM chan ch
            JOIN v v1 ON (v1.s & (1 << ch.bit)) = 0
            JOIN v v2 ON v2.s = v1.s + (1 << ch.bit)
        ), phi AS (
            SELECT bit, channel,
                   sum(coef.wt * (v_si - v_s))::BIGINT AS phi_cfact
            FROM marginals JOIN coef USING (sz)
            GROUP BY bit, channel
        ), totals AS (
            SELECT max(CASE WHEN s = {n_coal - 1} THEN v END)::BIGINT AS v_full,
                   max(CASE WHEN s = 0 THEN v END)::BIGINT AS v_empty
            FROM v
        )
        SELECT channel, phi_cfact,
               floor(phi_cfact::DOUBLE / {cfact}.0 * 1000000.0 + 0.5)::BIGINT
                   AS phi_micro,
               v_full, v_empty
        FROM phi CROSS JOIN totals
        ORDER BY phi_cfact DESC, channel ASC
    """


ORACLES["attribution_shapley"] = _shapley_oracle()
QUERIES["attribution_shapley"] = q_attribution_shapley


#: node-Jaccard report size
NODE_JACCARD_TOP_K = 50


def q_graph_node_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Neighborhood Jaccard similarity (Salton/Jaccard link prediction;
    Liben-Nowell & Kleinberg 2003 baseline) over the SimHash Hamming
    graph: for doc pairs sharing at least one neighbor, |N(u) n N(v)| /
    |N(u) u N(v)| with an is_edge flag — the unweighted companion to
    graph_adamic_adar (AA up-weights rare common neighbors; Jaccard
    normalizes by neighborhood size, so hubs can't dominate), and the
    same false-negative audit surface for the near-dup graph.

    Scale shape: identical to the Adamic-Adar plan — the session-
    memoized SimHash pair checkpoint, EXACT degrees, the hub pre-cap
    row_number (WindowGroupLimit partial below the exchange) before the
    per-center neighbor array, and map-side wedge expansion bounded at
    |centers| * cap^2. Only the common-neighbor ENUMERATION is capped
    (n_common is a lower bound at mega-hubs, the AA contract); degrees
    in the denominator stay exact. Lives in analytics importing the
    dedup machinery (the sketch_minhash_containment precedent) so the
    driver-checked catalog prefix is undisturbed.

    Determinism: counts and degrees are exact integers; jaccard_micro =
    floor(inter * 1e6 / (deg_u + deg_v - inter) + 0.5) is the exact
    integer division (2e6*i + u) div (2u); ordering is the
    (jaccard, doc_a, doc_b) total order."""
    from .dedup import AA_ADJ_CAP, _simhash_pairs_materialized

    pairs = _simhash_pairs_materialized(spark, sf)
    adj = pairs.select(F.col("doc_a").alias("w"), F.col("doc_b").alias("nbr")).union(
        pairs.select(F.col("doc_b").alias("w"), F.col("doc_a").alias("nbr"))
    )
    deg = adj.groupBy("w").agg(F.count("*").alias("d"))
    wcap = Window.partitionBy("w").orderBy("nbr")
    capped = (
        adj.withColumn("rk", F.row_number().over(wcap))
        .where(F.col("rk") <= AA_ADJ_CAP)
        .groupBy("w")
        .agg(F.sort_array(F.collect_list("nbr")).alias("nbrs"))
        .where(F.size("nbrs") >= 2)
    )
    wedges = (
        capped.select(F.posexplode("nbrs").alias("i", "u"), "nbrs")
        .select("u", F.explode(F.slice("nbrs", F.col("i") + 2, AA_ADJ_CAP)).alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
    )
    edge_flag = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v"), F.lit(True).alias("is_edge")
    )
    scored = (
        wedges.join(deg.select(F.col("w").alias("u"), F.col("d").alias("deg_u")), "u")
        .join(deg.select(F.col("w").alias("v"), F.col("d").alias("deg_v")), "v")
        .join(edge_flag, ["u", "v"], "left")
        .na.fill({"is_edge": False})
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            "n_common",
            "deg_u",
            "deg_v",
            F.expr(
                "(2000000 * n_common + (deg_u + deg_v - n_common))"
                " div (2 * (deg_u + deg_v - n_common))"
            ).alias("jaccard_micro"),
            "is_edge",
        )
    )
    return scored.orderBy(
        F.col("jaccard_micro").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(NODE_JACCARD_TOP_K)


def _node_jaccard_oracle() -> str:
    from .dedup import AA_ADJ_CAP, SIMHASH_MAX_HAMMING, _simhash_oracle

    return f"""
        WITH fp AS ({_simhash_oracle()}),
        dup_edges AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
        ),
        adj AS MATERIALIZED (
            SELECT doc_a AS w, doc_b AS nbr FROM dup_edges
            UNION ALL SELECT doc_b, doc_a FROM dup_edges
        ),
        deg AS (SELECT w, count(*)::BIGINT AS d FROM adj GROUP BY w),
        adj_capped AS (
            SELECT w, nbr FROM (
                SELECT w, nbr,
                       row_number() OVER (PARTITION BY w ORDER BY nbr) AS rk
                FROM adj
            ) WHERE rk <= {AA_ADJ_CAP}
        ),
        wedges AS (
            SELECT a1.nbr AS u, a2.nbr AS v, count(*)::BIGINT AS n_common
            FROM adj_capped a1 JOIN adj_capped a2
              ON a1.w = a2.w AND a1.nbr < a2.nbr
            GROUP BY 1, 2
        )
        SELECT w.u AS doc_a, w.v AS doc_b, w.n_common,
               du.d AS deg_u, dv.d AS deg_v,
               ((2000000 * w.n_common + (du.d + dv.d - w.n_common))
                // (2 * (du.d + dv.d - w.n_common)))::BIGINT AS jaccard_micro,
               EXISTS (SELECT 1 FROM dup_edges e
                       WHERE e.doc_a = w.u AND e.doc_b = w.v) AS is_edge
        FROM wedges w
        JOIN deg du ON du.w = w.u
        JOIN deg dv ON dv.w = w.v
        ORDER BY jaccard_micro DESC, doc_a ASC, doc_b ASC
        LIMIT {NODE_JACCARD_TOP_K}
    """


ORACLES["graph_node_jaccard"] = _node_jaccard_oracle()
QUERIES["graph_node_jaccard"] = q_graph_node_jaccard


#: windowed-funnel step deadline: a step converts only within this many
#: seconds of the PREVIOUS step's first event
FUNNEL_WINDOW_SECONDS = 6 * 3600


def q_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Time-boxed funnel view -> click -> purchase: each step counts only
    if it happens strictly after the previous step's first event AND
    within FUNNEL_WINDOW_SECONDS of it — the deadline semantics real
    conversion reporting uses (an un-windowed funnel credits a purchase
    weeks later to the original view; this one expires the intent). The
    contrast against funnel_conversion's unbounded counts is itself the
    value: windowed counts are necessarily <=, and the hash-checked
    census captures how much of the "conversion" was stale credit.

    Same plan discipline as funnel_conversion: three groupBys and two
    joins all keyed on user_id (one partitioning reused), a 3-scalar
    broadcast census at the end. The deadline adds a pure predicate —
    no new shuffle."""
    ev = load(spark, sf, "events").select("user_id", "event_type", "ts")
    t_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t_click = (
        ev.join(t_view, "user_id")
        .where(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t_view"))
            & F.expr(
                f"ts <= t_view + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND"
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t_purchase = (
        ev.join(t_click, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_click"))
            & F.expr(
                f"ts <= t_click + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND"
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_v = t_view.agg(F.count("*").alias("n_viewed"))
    n_c = t_click.agg(F.count("*").alias("n_clicked_in_window"))
    n_p = t_purchase.agg(F.count("*").alias("n_purchased_in_window"))
    return (
        n_v.crossJoin(F.broadcast(n_c))
        .crossJoin(F.broadcast(n_p))
        .select(
            "n_viewed",
            "n_clicked_in_window",
            "n_purchased_in_window",
            F.expr(
                "case when n_viewed > 0 then"
                " (2000000 * n_clicked_in_window + n_viewed)"
                " div (2 * n_viewed) else cast(0 as bigint) end"
            ).alias("view_to_click_micro"),
            F.expr(
                "case when n_clicked_in_window > 0 then"
                " (2000000 * n_purchased_in_window + n_clicked_in_window)"
                " div (2 * n_clicked_in_window) else cast(0 as bigint) end"
            ).alias("click_to_purchase_micro"),
        )
    )


ORACLES["funnel_windowed"] = f"""
    WITH tv AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), tc AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN tv USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > tv.t_view
          AND e.ts <= tv.t_view + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND
        GROUP BY e.user_id
    ), tp AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN tc USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
          AND e.ts <= tc.t_click + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM tv)::BIGINT AS n_viewed,
           (SELECT count(*) FROM tc)::BIGINT AS n_clicked_in_window,
           (SELECT count(*) FROM tp)::BIGINT AS n_purchased_in_window,
           CASE WHEN (SELECT count(*) FROM tv) > 0 THEN
             ((2000000 * (SELECT count(*) FROM tc) + (SELECT count(*) FROM tv))
              // (2 * (SELECT count(*) FROM tv)))::BIGINT
           ELSE 0 END AS view_to_click_micro,
           CASE WHEN (SELECT count(*) FROM tc) > 0 THEN
             ((2000000 * (SELECT count(*) FROM tp) + (SELECT count(*) FROM tc))
              // (2 * (SELECT count(*) FROM tc)))::BIGINT
           ELSE 0 END AS click_to_purchase_micro
"""
QUERIES["funnel_windowed"] = q_funnel_windowed


def q_dedup_survivor_by_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-ranked dedup survivors: within each near-dup cluster keep
    the HIGHEST-QUALITY document (fastText gate score, doc_id tiebreak)
    instead of the arbitrary min-id — the policy production curation
    actually wants ("of these five near-identical pages, keep the
    cleanest"), composed from two existing verified primitives:
    connected components over the LSH dup graph and the fastText-style
    quality score.

    The winner-per-cluster cut is a row_number window over the CLUSTERED
    docs only (cluster membership is a vanishing fraction of any real
    corpus; unclustered docs survive as themselves through the left
    join). Score joins are doc-keyed hash joins. Lives in analytics
    importing dedup machinery (the sketch_minhash_containment
    precedent) so the driver-checked prefix is undisturbed.

    Determinism: scores are exact integer micros (the fastText integer-
    milli discipline); the (score desc, doc_id asc) order is total."""
    from .dedup import q_dedup_connected_components
    from .textstats import q_quality_fasttext_gate
    from ..cache import pinned

    comp = q_dedup_connected_components(spark, sf)
    # pinned: the score frame has TWO consumers (the in-cluster ranking and
    # the final every-doc attach) and each re-ran the full corpus
    # explode+groupBy scoring pass — r14 caches the narrow (doc_id,
    # score_micro) result once (guide §5: cache aggregated multi-consumer
    # frames). r15 re-measure under the drained-pins harness: a WASH
    # (no-pin 3.83 vs pinned 3.57-3.80 min-of-6 paired) — kept, since at
    # scale the pin guarantees one scoring pass regardless of plan reuse.
    scores = pinned(
        q_quality_fasttext_gate(spark, sf).select("doc_id", "score_micro")
    )
    # LEFT join + sentinel: a token-less doc (null/empty text) has no
    # fastText score; it must still rank INSIDE its cluster (last), not
    # silently fall out of the dedup decision
    clustered = comp.join(scores, "doc_id", "left").withColumn(
        "rank_score",
        F.coalesce("score_micro", F.lit(-(10**12)).cast("bigint")),
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("rank_score").desc(), F.col("doc_id").asc()
    )
    winners = (
        clustered.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("component_id"))
        )
        .withColumn(
            "survivor_doc_id",
            F.first("doc_id").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
    )
    docs = load(spark, sf, "documents").select("doc_id")
    return (
        docs.join(scores, "doc_id", "left")
        .join(
            winners.select(
                "doc_id", "survivor_doc_id", "cluster_size"
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "score_micro",
            F.coalesce("survivor_doc_id", "doc_id").alias("survivor_doc_id"),
            F.coalesce("cluster_size", F.lit(1).cast("bigint")).alias(
                "cluster_size"
            ),
            (
                F.col("doc_id") == F.coalesce("survivor_doc_id", "doc_id")
            ).alias("is_survivor"),
        )
    )


def _survivor_quality_oracle() -> str:
    from .dedup import _cc_reach_ctes
    from .textstats import ORACLES as T_ORACLES

    return (
        _cc_reach_ctes()
        + f"""
        , comp AS (
            SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node
        ), scores AS (
            SELECT doc_id, score_micro
            FROM ({T_ORACLES["quality_fasttext_gate"]})
        ), clustered AS (
            SELECT c.doc_id, c.component_id, s.score_micro,
                   coalesce(s.score_micro, -1000000000000) AS rank_score
            FROM comp c LEFT JOIN scores s USING (doc_id)
        ), winners AS (
            SELECT doc_id, component_id, score_micro,
                   first_value(doc_id) OVER (PARTITION BY component_id
                       ORDER BY rank_score DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                       AS survivor_doc_id,
                   count(*) OVER (PARTITION BY component_id)::BIGINT
                       AS cluster_size
            FROM clustered
        )
        SELECT d.doc_id, s.score_micro,
               coalesce(w.survivor_doc_id, d.doc_id) AS survivor_doc_id,
               coalesce(w.cluster_size, 1)::BIGINT AS cluster_size,
               d.doc_id = coalesce(w.survivor_doc_id, d.doc_id) AS is_survivor
        FROM documents d
        LEFT JOIN scores s ON s.doc_id = d.doc_id
        LEFT JOIN winners w ON w.doc_id = d.doc_id
    """
    )


ORACLES["dedup_survivor_by_quality"] = _survivor_quality_oracle()
QUERIES["dedup_survivor_by_quality"] = q_dedup_survivor_by_quality


def q_graph_clustering_coefficient(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998) and
    the corpus-wide transitivity ratio over the near-dup graph: cc(v) =
    2*t(v) / (d(v)*(d(v)-1)) grades how clique-like each doc's dup
    neighbourhood is (cc ~ 1: template boilerplate clique; cc ~ 0: chain
    of possibly-false-positive links), and transitivity = sum(2t) /
    sum(d(d-1)) gives the one-number corpus health metric. Pure
    composition over the verified degree-oriented triangle counter —
    zero new graph machinery.

    Determinism: t and d are exact integers; cc_micro = (2e6*2t +
    d(d-1)) div (2*d(d-1)) is the exact integer division; transitivity
    rides the same integer sums in a broadcast scalar row. Nodes with
    d < 2 (no possible wedge) publish NULL cc, ANSI-safe.

    Scale shape: the triangle query's bounded shapes (skew-guarded LSH
    pair stream, orientation-capped wedges) plus one integer fold and a
    broadcast attach. Lives in analytics importing dedup machinery (the
    node-Jaccard precedent) so the driver-checked prefix is
    undisturbed."""
    from .dedup import q_graph_triangle_count

    # r15: the r14 pin REVERTED under the fixed (drained-pins) harness —
    # min-of-6 paired 3.20 s pinned vs 2.08 s unpinned at sf0.1. Both
    # consumers (the transitivity aggregate and the per-node attach) live
    # in ONE plan, so ReusedExchange already shares the triangle chain;
    # the pin only added a materialization job per run (the r14 batch-6
    # pin-vs-ReusedExchange rule, which the warm-cache bench had masked).
    tri = q_graph_triangle_count(spark, sf)
    glob = tri.agg(
        F.sum(2 * F.col("n_triangles")).alias("closed_x2"),
        F.sum(F.col("degree") * (F.col("degree") - 1)).alias("wedges_x2"),
    )
    return (
        tri.crossJoin(F.broadcast(glob))
        .select(
            "doc_id",
            "degree",
            "n_triangles",
            F.expr(
                "case when degree >= 2 then"
                " (2000000 * 2 * n_triangles + degree * (degree - 1))"
                " div (2 * degree * (degree - 1)) end"
            ).alias("local_cc_micro"),
            F.expr(
                "case when wedges_x2 > 0 then"
                " (2000000 * closed_x2 + wedges_x2) div (2 * wedges_x2)"
                " else cast(0 as bigint) end"
            ).alias("transitivity_micro"),
        )
    )


def _clustering_coef_oracle() -> str:
    from .dedup import _triangle_oracle

    return f"""
        WITH tri AS ({_triangle_oracle()}),
        gstats AS (
            SELECT sum(2 * n_triangles)::BIGINT AS closed_x2,
                   sum(degree * (degree - 1))::BIGINT AS wedges_x2
            FROM tri
        )
        SELECT doc_id, degree, n_triangles,
               CASE WHEN degree >= 2 THEN
                 ((2000000 * 2 * n_triangles + degree * (degree - 1))
                  // (2 * degree * (degree - 1)))::BIGINT END AS local_cc_micro,
               CASE WHEN wedges_x2 > 0 THEN
                 ((2000000 * closed_x2 + wedges_x2) // (2 * wedges_x2))::BIGINT
               ELSE 0 END AS transitivity_micro
        FROM tri CROSS JOIN gstats
    """


ORACLES["graph_clustering_coefficient"] = _clustering_coef_oracle()
QUERIES["graph_clustering_coefficient"] = q_graph_clustering_coefficient


def q_abtest_brown_forsythe(spark: SparkSession, sf: str) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test (Brown & Forsythe
    1974 — Levene's test with the MEDIAN center, the robust form) on
    purchase values between the deterministic arms: Mann-Whitney asks
    whether spend LOCATION shifts; this asks whether spend SPREAD does —
    the two together cover the standard "same conversion, different
    behavior" experiment readouts.

        z_ij = |x_ij - med_j|,  W = (N-k)/(k-1) *
               sum_j n_j (zbar_j - zbar)^2 / sum_ij (z_ij - zbar_j)^2

    Determinism discipline: values quantize to exact integer MILLIS;
    each arm's median is the lower weighted median from the sorted
    DISTINCT-value table (the agg_weighted_median cut — 2*cum >= n, no
    averaging division); z sums and z-square sums are exact bigints; W
    evaluates in ONE double expression over the integer sums (the
    chi-square precedent) floored to micros. int64-headroom guard
    (ENFORCED): sum(z^2) <= n * max_z^2, so the guard reads only n and
    the max |deviation|: log2(n) + 2*log2(max_z) < 62; tripped -> NULL
    W LOUDLY, mirrored in the oracle.

    Scale shape: one combine-friendly (arm, value) aggregate, the
    median cut windows over the DISTINCT-value table per arm, medians
    broadcast back, then one (arm)-level and one 1-row fold. Nothing
    event-sized is sorted."""
    events = load(spark, sf, "events")
    # complete-case (value AND arm): NULL values would land in the median
    # windows where the engines sort NULLs on opposite ends
    vals = events.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v"),
    )
    by_val = vals.groupBy("arm", "v").agg(F.count("*").alias("w"))
    w_cut = Window.partitionBy("arm").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_arm = Window.partitionBy("arm")
    med = (
        by_val.withColumn("cum", F.sum("w").over(w_cut))
        .withColumn("n_arm", F.sum("w").over(w_arm))
        .where(2 * F.col("cum") >= F.col("n_arm"))
        .groupBy("arm")
        .agg(F.min("v").alias("med"))
    )
    z = vals.join(F.broadcast(med), "arm").select(
        "arm", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    arm_stats = z.groupBy("arm").agg(
        F.count("*").alias("n_j"),
        F.sum("z").alias("sz_j"),
        # try_* keeps the guard NULL-LOUDLY under ANSI (see cuped)
        F.expr("try_sum(try_multiply(z, z))").alias("szz_j"),
        F.max("z").alias("max_z_j"),
    )
    g = arm_stats.agg(
        F.count("*").alias("k"),
        F.sum("n_j").alias("n_total"),
        F.sum("sz_j").alias("sz"),
        # within-group SS = sum_j (szz_j - sz_j^2 / n_j): per-arm double
        # terms over exact ints, summed across EXACTLY k = 2 arms — a
        # 2-operand float sum is commutative-exact (a + b == b + a
        # bitwise), so no ordering hazard exists; k > 2 designs would
        # need the integer common-denominator form instead
        F.sum(
            F.expr(
                "cast(szz_j as double)"
                " - cast(sz_j as double) * cast(sz_j as double)"
                " / cast(n_j as double)"
            )
        ).alias("ss_within"),
        F.sum(
            F.expr(
                "cast(sz_j as double) * cast(sz_j as double) / cast(n_j as double)"
            )
        ).alias("sum_sq_over_n"),
        F.max(F.expr("log2(cast(n_j as double))"
                     " + 2.0 * log2(cast(greatest(max_z_j, 1) as double))")).alias(
            "guard_bits"
        ),
    )
    ok = F.expr("case when n_total = 0 then true else guard_bits < 62.0 end")
    w_stat = F.expr(
        "case when k > 1 and n_total > k and ss_within > 0.0 then"
        " (cast(n_total - k as double) / cast(k - 1 as double))"
        " * (sum_sq_over_n - cast(sz as double) * cast(sz as double)"
        "    / cast(n_total as double))"
        " / ss_within end"
    )
    return g.select(
        "k",
        "n_total",
        F.when(ok, F.col("sz")).alias("sum_abs_dev_milli"),
        F.when(
            ok, F.floor(w_stat * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
        ).alias("bf_w_micro"),
        ok.alias("headroom_ok"),
    )


ORACLES["abtest_brown_forsythe"] = """
    WITH vals AS (
        SELECT (user_id % 2)::INT AS arm,
               floor(value * 1000 + 0.5)::BIGINT AS v
        FROM events WHERE event_type = 'purchase'
          AND value IS NOT NULL AND user_id IS NOT NULL
    ), by_val AS (
        SELECT arm, v, count(*)::BIGINT AS w FROM vals GROUP BY arm, v
    ), med AS (
        SELECT arm, min(v)::BIGINT AS med FROM (
            SELECT arm, v,
                   sum(w) OVER (PARTITION BY arm ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(w) OVER (PARTITION BY arm) AS n_arm
            FROM by_val
        ) WHERE 2 * cum >= n_arm GROUP BY arm
    ), z AS (
        SELECT vals.arm, abs(v - med)::BIGINT AS z
        FROM vals JOIN med USING (arm)
    ), arm_stats AS (
        SELECT arm, count(*)::BIGINT AS n_j, sum(z)::BIGINT AS sz_j,
               sum(z::HUGEINT * z) AS szz_j, max(z)::BIGINT AS max_z_j
        FROM z GROUP BY arm
    ), g AS (
        SELECT count(*)::BIGINT AS k, sum(n_j)::BIGINT AS n_total,
               sum(sz_j)::BIGINT AS sz,
               sum(szz_j::DOUBLE - sz_j::DOUBLE * sz_j::DOUBLE / n_j::DOUBLE)
                   AS ss_within,
               sum(sz_j::DOUBLE * sz_j::DOUBLE / n_j::DOUBLE) AS sum_sq_over_n,
               max(log2(n_j::DOUBLE)
                   + 2.0 * log2(greatest(max_z_j, 1)::DOUBLE)) AS guard_bits
        FROM arm_stats
    ), ok_t AS (
        SELECT *, CASE WHEN n_total = 0 THEN true
                  ELSE guard_bits < 62.0 END AS headroom_ok
        FROM g
    )
    SELECT k, n_total,
           CASE WHEN headroom_ok THEN sz END AS sum_abs_dev_milli,
           CASE WHEN headroom_ok THEN
             CASE WHEN k > 1 AND n_total > k AND ss_within > 0.0 THEN
               floor(((n_total - k)::DOUBLE / (k - 1)::DOUBLE)
                     * (sum_sq_over_n - sz::DOUBLE * sz::DOUBLE / n_total::DOUBLE)
                     / ss_within * 1000000.0 + 0.5)::BIGINT END
           END AS bf_w_micro,
           headroom_ok
    FROM ok_t
"""
QUERIES["abtest_brown_forsythe"] = q_abtest_brown_forsythe


def q_stats_kruskal_wallis(spark: SparkSession, sf: str) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) across event-type
    groups on event value — the k-group generalization of
    abtest_mann_whitney ("do the event types draw value from the same
    distribution?"), the standard nonparametric one-way ANOVA when the
    heavy-tailed value column rules out the F test.

    Determinism discipline (the Mann-Whitney/Spearman rank pattern):
    values are exact millis; ranks come from the global DISTINCT-value
    table with exact tie handling via DOUBLED average ranks r2 = 2*cum
    + t + 1; per-group doubled-rank sums S2_j and tie moments
    sum(t^3 - t) are exact bigints. With R_j = S2_j / 2,
      H = 3/(N*(N+1)) * sum(S2_j^2 / n_j) - 3*(N+1),
    tie-corrected by C = 1 - sum(t^3 - t)/(N^3 - N); both evaluate in
    one fixed double expression floored once to micros. C = 0 (all
    values identical) NULLs h_micro ANSI-safely.

    int64-headroom guard (ENFORCED, the Spearman discipline): the tie
    moment is bounded by N^3, so the guard reads only N:
    3*log2(N) < 62, wrapping past ~1.6e6 ranked rows. Tripped ->
    h_micro NULL LOUDLY (headroom_ok = false); the oracle mirrors the
    same CASE. (S2_j <= 2*N*n_j stays comfortably inside the same
    bound; S2_j^2 is evaluated in doubles, the chi-square precedent.)

    Scale shape: one combine-friendly (event_type, v) pre-aggregate,
    one running-sum window over the DISTINCT-VALUE table (bounded by
    value cardinality, not event count — the vocab_coverage sorted-
    aggregate discipline), one hash join back on v, a k-row group fold
    and a 1-row final fold. Nothing event-sized is sorted."""
    ev = load(spark, sf, "events")
    # complete-case: NULL values cannot be ranked (and sit at opposite
    # ends of the two engines' rank windows)
    vals = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v"),
    )
    gv = vals.groupBy("event_type", "v").agg(F.count("*").alias("w")).transform(pinned)
    by_val = gv.groupBy("v").agg(F.sum("w").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked_vals = by_val.select(
        "v",
        "t",
        (2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1).alias("r2"),
    )
    per_group = (
        gv.join(ranked_vals.select("v", "r2"), "v")
        .groupBy("event_type")
        .agg(
            F.sum("w").alias("n_j"),
            # try_* keeps the guard NULL-LOUDLY under ANSI (see cuped)
            F.expr("try_sum(try_multiply(w, r2))").alias("s2_j"),
        )
    )
    ties = ranked_vals.agg(
        F.expr(
            "try_sum(try_subtract(try_multiply(try_multiply(t, t), t), t))"
        ).alias("tie3")
    )
    g = per_group.agg(
        F.count("*").alias("k_groups"),
        F.sum("n_j").alias("n_total"),
        F.sum(
            F.col("s2_j").cast("double")
            * F.col("s2_j").cast("double")
            / F.col("n_j").cast("double")
        ).alias("sum_s2sq_over_n"),
    ).crossJoin(F.broadcast(ties))
    ok = F.expr(
        "case when n_total <= 1 then true"
        " else 3.0 * log2(cast(n_total as double)) < 62.0 end"
    )
    h = F.expr(
        "case when n_total > 1 and k_groups > 1"
        " and cast(n_total as double) * cast(n_total as double)"
        "     * cast(n_total as double) - cast(n_total as double)"
        "     - cast(tie3 as double) > 0.0 then"
        " (3.0 / (cast(n_total as double) * (cast(n_total as double) + 1.0))"
        "  * sum_s2sq_over_n - 3.0 * (cast(n_total as double) + 1.0))"
        " / (1.0 - cast(tie3 as double)"
        "    / (cast(n_total as double) * cast(n_total as double)"
        "       * cast(n_total as double) - cast(n_total as double))) end"
    )
    return g.select(
        "n_total",
        "k_groups",
        F.when(ok, F.col("tie3")).alias("tie3"),
        F.when(ok, F.floor(h * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "h_micro"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["stats_kruskal_wallis"] = q_stats_kruskal_wallis
ORACLES["stats_kruskal_wallis"] = """
    WITH vals AS (
        SELECT event_type, floor(value * 1000 + 0.5)::BIGINT AS v FROM events
        WHERE value IS NOT NULL
    ), gv AS (
        SELECT event_type, v, count(*)::BIGINT AS w FROM vals
        GROUP BY event_type, v
    ), by_val AS (
        SELECT v, sum(w)::BIGINT AS t FROM gv GROUP BY v
    ), ranked_vals AS (
        SELECT v, t,
               (2 * coalesce(sum(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1)::BIGINT AS r2
        FROM by_val
    ), per_group AS (
        SELECT event_type, sum(w)::BIGINT AS n_j,
               sum(w::HUGEINT * r2) AS s2_j
        FROM gv JOIN ranked_vals USING (v) GROUP BY event_type
    ), ties AS (
        SELECT sum(t::HUGEINT * t * t - t) AS tie3 FROM ranked_vals
    ), g AS (
        SELECT count(*)::BIGINT AS k_groups, sum(n_j)::BIGINT AS n_total,
               sum(s2_j::DOUBLE * s2_j::DOUBLE / n_j::DOUBLE) AS sum_s2sq_over_n
        FROM per_group
    ), ok_t AS (
        SELECT *, CASE WHEN n_total <= 1 THEN true
                  ELSE 3.0 * log2(n_total::DOUBLE) < 62.0 END AS headroom_ok
        FROM g CROSS JOIN ties
    )
    SELECT n_total, k_groups,
           CASE WHEN headroom_ok THEN tie3::BIGINT END AS tie3,
           CASE WHEN headroom_ok THEN
             CASE WHEN n_total > 1 AND k_groups > 1
                   AND n_total::DOUBLE * n_total::DOUBLE * n_total::DOUBLE
                       - n_total::DOUBLE - tie3::DOUBLE > 0.0
             THEN floor((3.0 / (n_total::DOUBLE * (n_total::DOUBLE + 1.0))
                         * sum_s2sq_over_n - 3.0 * (n_total::DOUBLE + 1.0))
                        / (1.0 - tie3::DOUBLE
                           / (n_total::DOUBLE * n_total::DOUBLE * n_total::DOUBLE
                              - n_total::DOUBLE))
                        * 1000000.0 + 0.5)::BIGINT END
           END AS h_micro,
           headroom_ok
    FROM ok_t
"""


def q_stats_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    """ROC AUC (Hanley & McNeil 1982) of document length as a predictor
    of the English label — the threshold-free grade of a scalar quality
    signal against a binary target, computed through the Mann-Whitney
    rank identity AUC = (R_pos - n_pos*(n_pos+1)/2) / (n_pos*n_neg),
    which is how AUC is evaluated at corpus scale (no threshold sweep,
    no sort of the full score column per threshold).

    Determinism discipline: ranks come from the DISTINCT-score table
    with DOUBLED average ranks (r2 = 2*cum + t + 1, the Mann-Whitney
    pattern), so with S2 = sum of doubled ranks over positives,
    AUC = (S2 - 2*n_pos*(n_pos+1)/2) / (2*n_pos*n_neg)
        = (S2 - n_pos*(n_pos+1)) / (2*n_pos*n_neg)
    — exact integer numerator and denominator, one double division
    floored once to micros. Ties across classes get the standard 0.5
    credit automatically via the average rank.

    int64-headroom guard (ENFORCED): S2 <= 2*N^2, so the guard reads
    only N: 1 + 2*log2(N) < 62, wrapping past ~1.5e9 docs. Tripped ->
    auc_micro NULL LOUDLY; the oracle mirrors the CASE.

    Scale shape: one combine-friendly (score, is_pos) pre-aggregate,
    one running-sum window over the DISTINCT-SCORE table (score
    cardinality, not corpus size), one hash join back, a 1-row fold."""
    docs = load(spark, sf, "documents")
    scored = docs.select(
        F.col("n_chars").alias("score"),
        F.expr("if(lang = 'en', 1, 0)").alias("pos"),
    )
    return roc_auc(scored)


def roc_auc(
    scored: DataFrame, *, score_col: str = "score", label_col: str = "pos"
) -> DataFrame:
    """ROC AUC of ANY (score, 0/1 label) frame via the Mann-Whitney rank
    identity — one row (n_pos, n_neg, s2_pos, auc_micro, headroom_ok);
    determinism, guard, and plan notes in `q_stats_roc_auc`."""
    scored = scored.select(
        F.col(score_col).alias("s"), F.col(label_col).alias("pos")
    )
    gs = scored.groupBy("s").agg(
        F.count("*").alias("t"), F.sum("pos").alias("t_pos")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = gs.select(
        "t",
        "t_pos",
        (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1).alias("r2"),
    )
    g = ranked.agg(
        F.sum("t").alias("n"),
        F.sum("t_pos").alias("n_pos"),
        F.sum(F.col("t_pos") * F.col("r2")).alias("s2_pos"),
    )
    ok = F.expr(
        "case when n <= 1 then true"
        " else 1.0 + 2.0 * log2(cast(n as double)) < 62.0 end"
    )
    auc = F.expr(
        "case when n_pos > 0 and n - n_pos > 0 then"
        " (cast(s2_pos as double) - cast(n_pos as double)"
        "  * (cast(n_pos as double) + 1.0))"
        " / (2.0 * cast(n_pos as double) * cast(n - n_pos as double)) end"
    )
    return g.select(
        F.col("n_pos"),
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.when(ok, F.col("s2_pos")).alias("s2_pos"),
        F.when(ok, F.floor(auc * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "auc_micro"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["stats_roc_auc"] = q_stats_roc_auc
ORACLES["stats_roc_auc"] = """
    WITH scored AS (
        SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ), gs AS (
        SELECT s, count(*)::BIGINT AS t, sum(pos)::BIGINT AS t_pos
        FROM scored GROUP BY s
    ), ranked AS (
        SELECT t, t_pos,
               (2 * coalesce(sum(t) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1)::BIGINT AS r2
        FROM gs
    ), g AS (
        SELECT sum(t)::BIGINT AS n, sum(t_pos)::BIGINT AS n_pos,
               sum(t_pos * r2)::BIGINT AS s2_pos
        FROM ranked
    ), ok_t AS (
        SELECT *, CASE WHEN n <= 1 THEN true
                  ELSE 1.0 + 2.0 * log2(n::DOUBLE) < 62.0 END AS headroom_ok
        FROM g
    )
    SELECT n_pos, (n - n_pos)::BIGINT AS n_neg,
           CASE WHEN headroom_ok THEN s2_pos END AS s2_pos,
           CASE WHEN headroom_ok THEN
             CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
               floor((s2_pos::DOUBLE - n_pos::DOUBLE * (n_pos::DOUBLE + 1.0))
                     / (2.0 * n_pos::DOUBLE * (n - n_pos)::DOUBLE)
                     * 1000000.0 + 0.5)::BIGINT END
           END AS auc_micro,
           headroom_ok
    FROM ok_t
"""


#: how many top paths events_path_trigrams reports
PATH_TOPK = 15


def q_events_path_trigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top event-sequence trigrams across per-user clickstreams — the
    "what do users actually do, three steps at a time" path-mining
    census (the n-gram view of the event_transition_matrix Markov
    chain: transitions grade ONE hop, path trigrams surface the
    dominant three-step journeys for funnel design).

    Each user's events are ordered by the total (ts, event_id) order;
    a trigram is three CONSECUTIVE events 'a>b>c' (lead window, no
    session gap split — sessionize_events owns gap semantics). The
    report is the global top PATH_TOPK trigrams by (count desc, path
    asc) — a total order, so the cut is deterministic.

    Scale shape: the lead windows are per-user partitions (the
    sessionize discipline — user-keyed exchange, no global sort); the
    trigram count is a combine-friendly groupBy bounded by the
    |event_type|^3 path domain, and the final top-k window runs over
    that DOMAIN-sized table, never the event stream. At 100 TB the
    only event-sized exchange is the user partitioning every
    clickstream op shares."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = (
        # unnamed (NULL event_type) steps carry no path information and are
        # excluded BEFORE sequencing (Spark's concat_ws would silently skip
        # them mid-path where DuckDB's || nulls the whole path)
        ev.where(F.col("event_type").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .where(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
    )
    counts = tri.groupBy("path").agg(F.count("*").alias("n_occurrences"))
    wr = Window.orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= PATH_TOPK)
        .select("rank", "path", "n_occurrences")
    )


QUERIES["events_path_trigrams"] = q_events_path_trigrams
ORACLES["events_path_trigrams"] = f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events WHERE event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), tri AS (
        SELECT event_type || '>' || e2 || '>' || e3 AS path
        FROM seq WHERE e3 IS NOT NULL
    ), counts AS (
        SELECT path, count(*)::BIGINT AS n_occurrences FROM tri GROUP BY path
    )
    SELECT row_number() OVER (ORDER BY n_occurrences DESC, path ASC) AS rank,
           path, n_occurrences
    FROM counts
    ORDER BY n_occurrences DESC, path ASC
    LIMIT {PATH_TOPK}
"""


def q_pareto_skyline_users(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto skyline (Borzsony, Kossmann & Stocker 2001, "The Skyline
    Operator") over per-user (total spend, event count): the
    non-dominated users — nobody else is >= on BOTH metrics and
    strictly greater on at least one. The multi-objective "best
    customers" set that no single weighted score can produce.

    2D skyline via the sorted-sweep identity instead of the O(n^2)
    dominance join: a point is on the skyline iff (a) its y is the max
    y at its exact x (else a same-x higher-y point dominates) and
    (b) y > max y over all points with STRICTLY greater x (computed as
    a running max with a 1-row lag over the distinct-x table ordered
    x desc). Duplicate (x, y) points tie into the skyline together
    (dominance requires one strict inequality). All comparisons are
    exact integers (milli-spend, counts).

    Scale shape: the corpus-sized scan collapses to one combine-
    friendly per-user aggregate; the sweep windows run over the
    DISTINCT-SPEND table (value cardinality). The global order over
    distinct spend values is the inherent cost of an exact skyline —
    the same accepted trade as the exact Gini sort (revenue_gini_
    lorenz); the 100 TB approximation path is sweeping an equi-depth
    histogram of x instead. Output is the skyline itself (guaranteed
    small: one point per distinct dominating x)."""
    ev = load(spark, sf, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias(
            "spend_milli"
        ),
        F.count("*").alias("n_events"),
    )
    by_x = users.groupBy("spend_milli").agg(F.max("n_events").alias("max_y"))
    wd = Window.orderBy(F.col("spend_milli").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = by_x.select(
        "spend_milli",
        "max_y",
        F.coalesce(F.max("max_y").over(wd), F.lit(-1)).alias("max_y_gt"),
    ).where(F.col("max_y") > F.col("max_y_gt"))
    return (
        users.join(
            frontier.select("spend_milli", F.col("max_y").alias("n_events")),
            ["spend_milli", "n_events"],
        )
        .select("user_id", "spend_milli", "n_events")
    )


QUERIES["pareto_skyline_users"] = q_pareto_skyline_users
ORACLES["pareto_skyline_users"] = """
    WITH users AS (
        SELECT user_id, sum(floor(value * 1000 + 0.5)::BIGINT)::BIGINT AS spend_milli,
               count(*)::BIGINT AS n_events
        FROM events GROUP BY user_id
    )
    SELECT u.user_id, u.spend_milli, u.n_events
    FROM users u
    WHERE NOT EXISTS (
        SELECT 1 FROM users o
        WHERE o.spend_milli >= u.spend_milli AND o.n_events >= u.n_events
          AND (o.spend_milli > u.spend_milli OR o.n_events > u.n_events)
    )
"""


#: HITS power-iteration rounds (fixed, like PAGERANK_ITERS) and the integer
#: normalization unit: scores live in e-6 units and every round rescales the
#: vector to ~1e6 total mass with one integer division
HITS_ITERS = 3
HITS_SCALE = 10**6


def q_graph_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the bipartite
    user -> event-type engagement graph: authority scores for event
    types ("which actions do the broadest hubs concentrate on") — the
    mutual-reinforcement companion to graph_pagerank (PageRank ranks
    within ONE node set; HITS co-ranks the two sides of a bipartite
    interaction).

    Determinism discipline (the PageRank integer-mass pattern): scores
    are integers in e-6 units; each round is (a) one exact integer
    edge-sum, (b) one integer renormalization x div (X div 1e6) that
    rescales total mass back to ~1e6. Truncating division is identical
    in both engines (all quantities positive), so after HITS_ITERS
    fixed rounds the vector is bit-exact; the DuckDB oracle unrolls the
    same rounds as CTEs on the same distinct-edge CTE.

    int64-headroom guard (ENFORCED, the sibling stats-op pattern —
    upgraded from the r10 docstring-only assertion): every edge-sum is
    bounded by HITS_SCALE * |edges| (each node holds <= ~HITS_SCALE
    units after renormalization), so the guard reads |edges| once and
    checks HITS_SCALE * |edges| < 2^62; tripped -> auth_micro NULLs
    LOUDLY with headroom_ok = false, mirrored in the oracle.

    Scale shape: per round ONE node-keyed equi-join (edges x scores) +
    ONE map-side-combinable integer groupBy per direction, exactly the
    label-propagation shape; the mass total rides a one-row broadcast;
    `localCheckpoint` truncates per-round lineage. The authority side
    (output) is |event_type|-domain sized."""
    ev = load(spark, sf, "events")
    # an edge needs BOTH endpoints: NULL user/type rows are not edges
    # (equi-joins would drop the user side while groupBy kept the type
    # side, splitting the engines) — oracle mirrored
    edges = (
        ev.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint()
    )
    headroom_ok = HITS_SCALE * edges.count() < (1 << 62)
    hubs = edges.select("user_id").distinct().select(
        "user_id", F.lit(HITS_SCALE).cast("bigint").alias("h")
    )
    # r15 (VERDICT r14 item 3): ONE eager checkpoint per round instead of
    # two. The authority half-round is no longer checkpointed — it feeds
    # the hub update as a broadcast subtree inside the SAME round job
    # (a_raw's exchange is reused between the main stream and the a_sum
    # scalar), and only the round's END state (hubs) is materialized to
    # truncate lineage. The FINAL round checkpoints auth instead and skips
    # its hub update entirely — the last h-step was computed eagerly and
    # never consumed. Identical integer arithmetic, half the round jobs.
    auth = None
    for i in range(HITS_ITERS):
        a_raw = (
            edges.join(hubs, "user_id")
            .groupBy("event_type")
            .agg(F.sum("h").alias("a_raw"))
        )
        a_tot = a_raw.groupBy().agg(F.sum("a_raw").alias("a_sum"))
        auth = a_raw.crossJoin(F.broadcast(a_tot)).select(
            "event_type",
            F.expr(
                f"a_raw div greatest(a_sum div {HITS_SCALE}, 1)"
            ).alias("a"),
        )
        if i == HITS_ITERS - 1:
            auth = auth.localCheckpoint()
            break  # the final hub update is dead work — auth is the output
        h_raw = (
            edges.join(F.broadcast(auth), "event_type")
            .groupBy("user_id")
            .agg(F.sum("a").alias("h_raw"))
        )
        h_tot = h_raw.groupBy().agg(F.sum("h_raw").alias("h_sum"))
        hubs = (
            h_raw.crossJoin(F.broadcast(h_tot))
            .select(
                "user_id",
                F.expr(
                    f"h_raw div greatest(h_sum div {HITS_SCALE}, 1)"
                ).alias("h"),
            )
            .localCheckpoint()
        )
    deg = edges.groupBy("event_type").agg(F.count("*").alias("n_users"))
    ok = F.lit(headroom_ok)
    return auth.join(deg, "event_type").select(
        "event_type",
        "n_users",
        F.when(ok, F.col("a")).alias("auth_micro"),
        ok.alias("headroom_ok"),
    )


QUERIES["graph_hits"] = q_graph_hits


def _hits_oracle() -> str:
    body = [
        """
        WITH edges AS (
            SELECT DISTINCT user_id, event_type FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        ), h0 AS (
            SELECT DISTINCT user_id, 1000000::BIGINT AS h FROM edges
        )"""
    ]
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        body.append(
            f""", araw{i} AS (
            SELECT e.event_type, sum(p.h)::BIGINT AS a_raw
            FROM edges e JOIN {prev_h} p USING (user_id)
            GROUP BY e.event_type
        ), a{i} AS (
            SELECT event_type,
                   (a_raw // greatest((SELECT sum(a_raw) FROM araw{i})
                                      // {HITS_SCALE}, 1))::BIGINT AS a
            FROM araw{i}
        ), hraw{i} AS (
            SELECT e.user_id, sum(a.a)::BIGINT AS h_raw
            FROM edges e JOIN a{i} a USING (event_type)
            GROUP BY e.user_id
        ), h{i} AS (
            SELECT user_id,
                   (h_raw // greatest((SELECT sum(h_raw) FROM hraw{i})
                                      // {HITS_SCALE}, 1))::BIGINT AS h
            FROM hraw{i}
        )"""
        )
        prev_h = f"h{i}"
    body.append(
        f"""
        SELECT a.event_type,
               (SELECT count(DISTINCT e.user_id) FROM edges e
                WHERE e.event_type = a.event_type)::BIGINT AS n_users,
               CASE WHEN {HITS_SCALE} * (SELECT count(*) FROM edges)
                         < {1 << 62} THEN a.a END::BIGINT AS auth_micro,
               ({HITS_SCALE} * (SELECT count(*) FROM edges)
                < {1 << 62}) AS headroom_ok
        FROM a{HITS_ITERS} a
    """
    )
    return "".join(body)


ORACLES["graph_hits"] = _hits_oracle()


#: CUPED pre-period cutoff: events on or before this day-of-month are the
#: pre-experiment covariate window (the fixture spans days 1..30)
CUPED_PRE_DAY = 15


def q_abtest_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013,
    "Improving the Sensitivity of Online Controlled Experiments") over
    per-user spend: theta = cov(X, Y) / var(X) for pre-period covariate
    X and experiment-period metric Y, and the achieved variance
    reduction rho^2 — the number that says how much smaller an A/B test
    gets by regressing out each user's own history.

    Determinism discipline: per-user pre/post milli-sums are exact
    integers from ONE conditional aggregate (no second scan, no join);
    the five moments (sx, sy, sxx, syy, sxy) are exact bigint sums;
    theta and rho^2 evaluate in one fixed double expression each,
    floored once to micros.

    int64-headroom guard (ENFORCED, the Brown-Forsythe max-reading
    pattern): the cross moments are bounded by n * max|x| * max|y|, so
    the guard reads n and the two exact maxima: log2(n) +
    log2(greatest(max_ax, 1)) + log2(greatest(max_ay, 1)) < 62 (and the
    same with 2*log2(max) on the squares, folded via the larger of the
    two maxima). Tripped -> theta/rho2 NULL LOUDLY, mirrored in the
    oracle.

    Scale shape: one combine-friendly user aggregate, one 1-row fold —
    the cheapest possible two-period experiment readout (no per-period
    scans, no user-sized sort)."""
    ev = load(spark, sf, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.expr(
                f"if(dayofmonth(ts) <= {CUPED_PRE_DAY},"
                " cast(floor(value * 1000 + 0.5) as bigint), 0)"
            )
        ).alias("x"),
        F.sum(
            F.expr(
                f"if(dayofmonth(ts) > {CUPED_PRE_DAY},"
                " cast(floor(value * 1000 + 0.5) as bigint), 0)"
            )
        ).alias("y"),
    )
    return cuped(users, quantize_milli=False)


def cuped(
    user_periods: DataFrame,
    *,
    x_col: str = "x",
    y_col: str = "y",
    quantize_milli: bool = True,
) -> DataFrame:
    """CUPED theta and variance reduction over ANY unit-level frame with a
    pre-period covariate `x_col` and an experiment metric `y_col` — one
    row (n_users, sxy, theta_micro, var_reduction_micro, headroom_ok).
    With quantize_milli (the default for raw metric columns) both columns
    quantize to exact millis first; pass False when they are already
    exact integers (the fixture shim's conditional milli sums). Formula,
    guard, and plan notes in `q_abtest_cuped`."""
    if quantize_milli:
        x = F.expr(f"cast(floor({x_col} * 1000 + 0.5) as bigint)")
        y = F.expr(f"cast(floor({y_col} * 1000 + 0.5) as bigint)")
    else:
        x, y = F.col(x_col), F.col(y_col)
    users = user_periods.select(x.alias("x"), y.alias("y"))
    # try_* keeps the guard's NULL-LOUDLY contract under ANSI: past the
    # headroom bound the raw x*x would THROW before the guard CASE runs
    # (oracle mirror: HUGEINT products, casts gated by the guard);
    # inside the bound try_* equals the exact ops bit-for-bit
    g = users.agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("try_sum(try_multiply(x, x))").alias("sxx"),
        F.expr("try_sum(try_multiply(y, y))").alias("syy"),
        F.expr("try_sum(try_multiply(x, y))").alias("sxy"),
        F.max(F.abs("x")).alias("max_ax"),
        F.max(F.abs("y")).alias("max_ay"),
    )
    ok = F.expr(
        "case when n_users = 0 then true else"
        " log2(cast(n_users as double))"
        " + 2.0 * log2(cast(greatest(max_ax, max_ay, 2) as double)) < 62.0 end"
    )
    theta = F.expr(
        "case when n_users > 1"
        " and cast(n_users as double) * cast(sxx as double)"
        "     - cast(sx as double) * cast(sx as double) > 0.0 then"
        " (cast(n_users as double) * cast(sxy as double)"
        "  - cast(sx as double) * cast(sy as double))"
        " / (cast(n_users as double) * cast(sxx as double)"
        "    - cast(sx as double) * cast(sx as double)) end"
    )
    rho2 = F.expr(
        "case when n_users > 1"
        " and cast(n_users as double) * cast(sxx as double)"
        "     - cast(sx as double) * cast(sx as double) > 0.0"
        " and cast(n_users as double) * cast(syy as double)"
        "     - cast(sy as double) * cast(sy as double) > 0.0 then"
        " ((cast(n_users as double) * cast(sxy as double)"
        "   - cast(sx as double) * cast(sy as double))"
        "  * (cast(n_users as double) * cast(sxy as double)"
        "     - cast(sx as double) * cast(sy as double)))"
        " / ((cast(n_users as double) * cast(sxx as double)"
        "     - cast(sx as double) * cast(sx as double))"
        "    * (cast(n_users as double) * cast(syy as double)"
        "       - cast(sy as double) * cast(sy as double))) end"
    )
    return g.select(
        "n_users",
        F.when(ok, F.col("sxy")).alias("sxy"),
        F.when(ok, F.floor(theta * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "theta_micro"
        ),
        F.when(ok, F.floor(rho2 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "var_reduction_micro"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["abtest_cuped"] = q_abtest_cuped
ORACLES["abtest_cuped"] = f"""
    WITH users AS (
        SELECT user_id,
               sum(CASE WHEN day(ts) <= {CUPED_PRE_DAY}
                   THEN floor(value * 1000 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS x,
               sum(CASE WHEN day(ts) > {CUPED_PRE_DAY}
                   THEN floor(value * 1000 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id
    ), g AS (
        SELECT count(*)::BIGINT AS n_users,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
               sum(x::HUGEINT * y) AS sxy,
               max(abs(x))::BIGINT AS max_ax, max(abs(y))::BIGINT AS max_ay
        FROM users
    ), ok_t AS (
        SELECT *, CASE WHEN n_users = 0 THEN true ELSE
                  log2(n_users::DOUBLE)
                  + 2.0 * log2(greatest(max_ax, max_ay, 2)::DOUBLE) < 62.0
                  END AS headroom_ok
        FROM g
    )
    SELECT n_users,
           CASE WHEN headroom_ok THEN sxy::BIGINT END AS sxy,
           CASE WHEN headroom_ok THEN
             CASE WHEN n_users > 1
                   AND n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
             THEN floor((n_users::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                        / (n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * 1000000.0 + 0.5)::BIGINT END
           END AS theta_micro,
           CASE WHEN headroom_ok THEN
             CASE WHEN n_users > 1
                   AND n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
                   AND n_users::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0.0
             THEN floor(((n_users::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                         * (n_users::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
                        / ((n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                           * (n_users::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                        * 1000000.0 + 0.5)::BIGINT END
           END AS var_reduction_micro,
           headroom_ok
    FROM ok_t
"""


def q_abtest_cohens_d(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's d effect size (Cohen 1988) between the two experiment arms
    on purchase value — the "how BIG is the difference" companion to the
    significance tests (Mann-Whitney/z/chi-square say whether; d says
    how much, in pooled-standard-deviation units, the number a launch
    review actually reads).

    d = (mean_1 - mean_0) / s_pooled with s_pooled^2 = ((n_0-1)s_0^2 +
    (n_1-1)s_1^2) / (n_0+n_1-2). Per-arm moments (n, sum, sum-of-
    squares) are exact bigint sums over exact milli values from ONE
    combine-friendly aggregate; d evaluates in one fixed double
    expression floored to micros.

    int64-headroom guard (ENFORCED, the Brown-Forsythe max-reading
    pattern): sum(v^2) <= n * max_v^2, so the guard reads n and the
    exact max: log2(n) + 2*log2(max|v|) < 62. Tripped -> d NULL LOUDLY,
    mirrored in the oracle.

    Scale shape: one scan, one 2-row aggregate, one 1-row fold — the
    cheapest possible effect-size readout."""
    ev = load(spark, sf, "events")
    vals = ev.where(F.col("event_type") == "purchase").select(
        F.expr("cast(user_id % 2 as int)").alias("arm"), "value"
    )
    return cohens_d(vals)


def cohens_d(
    values: DataFrame,
    *,
    variant_col: str = "arm",
    value_col: str = "value",
) -> DataFrame:
    """Cohen's d between arms 0/1 of ANY (arm, value) observation frame —
    one row (n0, n1, sum0_milli, sum1_milli, cohens_d_micro, headroom_ok);
    values quantize to exact millis inside (the house floor(v*1000+0.5)
    idiom). Formula, guard, and plan notes in `q_abtest_cohens_d`."""
    # complete-case: a row with unknown value or arm carries no effect
    # information (and would dilute n_j while sum() skipped it)
    vals = values.where(
        F.col(value_col).isNotNull() & F.col(variant_col).isNotNull()
    ).select(
        F.col(variant_col).cast("int").alias("arm"),
        F.expr(f"cast(floor({value_col} * 1000 + 0.5) as bigint)").alias("v"),
    )
    # try_* keeps the guard's NULL-LOUDLY contract under ANSI (see cuped)
    arms = vals.groupBy("arm").agg(
        F.count("*").alias("n_j"),
        F.sum("v").alias("s_j"),
        F.expr("try_sum(try_multiply(v, v))").alias("ss_j"),
        F.max(F.abs("v")).alias("max_v_j"),
    )
    g = arms.agg(
        F.sum("n_j").alias("n_total"),
        F.min(F.when(F.col("arm") == 0, F.col("n_j"))).alias("n0"),
        F.min(F.when(F.col("arm") == 0, F.col("s_j"))).alias("s0"),
        F.min(F.when(F.col("arm") == 0, F.col("ss_j"))).alias("ss0"),
        F.min(F.when(F.col("arm") == 1, F.col("n_j"))).alias("n1"),
        F.min(F.when(F.col("arm") == 1, F.col("s_j"))).alias("s1"),
        F.min(F.when(F.col("arm") == 1, F.col("ss_j"))).alias("ss1"),
        F.max("max_v_j").alias("max_v"),
    )
    ok = F.expr(
        "case when n_total is null or n_total = 0 then true else"
        " log2(cast(n_total as double))"
        " + 2.0 * log2(cast(greatest(max_v, 2) as double)) < 62.0 end"
    )
    d = F.expr(
        "case when n0 > 1 and n1 > 1 then"
        " case when ((cast(n0 as double) - 1.0)"
        "  * ((cast(ss0 as double) - cast(s0 as double) * cast(s0 as double)"
        "      / cast(n0 as double)) / (cast(n0 as double) - 1.0))"
        "  + (cast(n1 as double) - 1.0)"
        "  * ((cast(ss1 as double) - cast(s1 as double) * cast(s1 as double)"
        "      / cast(n1 as double)) / (cast(n1 as double) - 1.0)))"
        " / (cast(n0 + n1 as double) - 2.0) > 0.0 then"
        " (cast(s1 as double) / cast(n1 as double)"
        "  - cast(s0 as double) / cast(n0 as double))"
        " / sqrt(((cast(n0 as double) - 1.0)"
        "   * ((cast(ss0 as double) - cast(s0 as double) * cast(s0 as double)"
        "       / cast(n0 as double)) / (cast(n0 as double) - 1.0))"
        "   + (cast(n1 as double) - 1.0)"
        "   * ((cast(ss1 as double) - cast(s1 as double) * cast(s1 as double)"
        "       / cast(n1 as double)) / (cast(n1 as double) - 1.0)))"
        "  / (cast(n0 + n1 as double) - 2.0)) end end"
    )
    return g.select(
        "n0",
        "n1",
        F.when(ok, F.col("s0")).alias("sum0_milli"),
        F.when(ok, F.col("s1")).alias("sum1_milli"),
        F.when(ok, F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "cohens_d_micro"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["abtest_cohens_d"] = q_abtest_cohens_d
ORACLES["abtest_cohens_d"] = """
    WITH vals AS (
        SELECT (user_id % 2)::INT AS arm,
               floor(value * 1000 + 0.5)::BIGINT AS v
        FROM events WHERE event_type = 'purchase'
          AND value IS NOT NULL AND user_id IS NOT NULL
    ), arms AS (
        SELECT arm, count(*)::BIGINT AS n_j, sum(v)::BIGINT AS s_j,
               sum(v::HUGEINT * v) AS ss_j, max(abs(v))::BIGINT AS max_v_j
        FROM vals GROUP BY arm
    ), g AS (
        SELECT sum(n_j)::BIGINT AS n_total,
               min(CASE WHEN arm = 0 THEN n_j END)::BIGINT AS n0,
               min(CASE WHEN arm = 0 THEN s_j END)::BIGINT AS s0,
               min(CASE WHEN arm = 0 THEN ss_j END) AS ss0,
               min(CASE WHEN arm = 1 THEN n_j END)::BIGINT AS n1,
               min(CASE WHEN arm = 1 THEN s_j END)::BIGINT AS s1,
               min(CASE WHEN arm = 1 THEN ss_j END) AS ss1,
               max(max_v_j)::BIGINT AS max_v
        FROM arms
    ), ok_t AS (
        SELECT *, CASE WHEN n_total IS NULL OR n_total = 0 THEN true ELSE
                  log2(n_total::DOUBLE)
                  + 2.0 * log2(greatest(max_v, 2)::DOUBLE) < 62.0
                  END AS headroom_ok
        FROM g
    )
    SELECT n0, n1,
           CASE WHEN headroom_ok THEN s0 END AS sum0_milli,
           CASE WHEN headroom_ok THEN s1 END AS sum1_milli,
           CASE WHEN headroom_ok THEN
             CASE WHEN n0 > 1 AND n1 > 1 THEN
               CASE WHEN ((n0::DOUBLE - 1.0)
                          * ((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                             / (n0::DOUBLE - 1.0))
                          + (n1::DOUBLE - 1.0)
                          * ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                             / (n1::DOUBLE - 1.0)))
                         / ((n0 + n1)::DOUBLE - 2.0) > 0.0 THEN
                 floor((s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE)
                       / sqrt(((n0::DOUBLE - 1.0)
                               * ((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE
                                   / n0::DOUBLE) / (n0::DOUBLE - 1.0))
                               + (n1::DOUBLE - 1.0)
                               * ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE
                                   / n1::DOUBLE) / (n1::DOUBLE - 1.0)))
                              / ((n0 + n1)::DOUBLE - 2.0))
                       * 1000000.0 + 0.5)::BIGINT END END
           END AS cohens_d_micro,
           headroom_ok
    FROM ok_t
"""


#: how many directed association rules basket_association_rules reports
RULES_TOPK = 20


def q_basket_association_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Directed association rules a -> b (Agrawal & Srikant 1994) over
    the same capped basket pairs as basket_lift_pairs: confidence =
    supp(ab)/supp(a), leverage = supp(ab)/N - supp(a)*supp(b)/N^2, and
    conviction = (1 - supp(b)/N) / (1 - conf) — the directional
    completion of the symmetric lift view (lift can't say WHICH way the
    association runs; a recommender needs the arrow).

    Each undirected co-occurrence pair emits both directions; supports
    are exact integer distinct-order counts reused from the one
    deduplicated (order, part) frame; the three metrics are fixed
    double expressions floored to micros (conviction NULL at conf = 1,
    the standard divide-by-zero convention, mirrored in the oracle).
    Top RULES_TOPK by the INTEGER (conf_micro desc, part_a, part_b)
    total order.

    100 TB (r14 reshape, the basket_lift_pairs twin): one
    groupBy(l_orderkey) to a sorted basket array replaces the orderkey
    self-join and the basket-size pre-aggregate + back-join; the
    BASKET_MAX skew guard becomes a map-side size(basket) filter bounding
    the higher-order pair expansion exactly as the join cap did. Supports
    and N (both over the UNCAPPED corpus, unchanged) derive from the same
    basket frame by explode/count, the cut is a global TakeOrdered over
    rule-count rows."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    baskets_all = (
        li.distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("ps"))
        # r15: pin reverted (unpinned 1.45 vs pinned 2.14 — see lift_pairs)
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        "           y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets_all.where(F.size("ps") <= BASKET_MAX)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("supp_ab"))
    )
    directed = pairs.select("part_a", "part_b", "supp_ab").union(
        pairs.select(
            F.col("part_b").alias("part_a"),
            F.col("part_a").alias("part_b"),
            "supp_ab",
        )
    )
    supp = (
        baskets_all.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("supp"))
    )
    n_orders = baskets_all.groupBy().agg(F.count("*").alias("n_orders"))
    scored = (
        directed.join(
            supp.select(F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")),
            "part_a",
        )
        .join(
            supp.select(F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "supp_ab",
            "supp_a",
            "supp_b",
            F.expr(
                "cast(floor(cast(supp_ab as double) / cast(supp_a as double)"
                " * 1000000.0 + 0.5) as bigint)"
            ).alias("conf_micro"),
            F.expr(
                "cast(floor((cast(supp_ab as double) / cast(n_orders as double)"
                " - cast(supp_a as double) * cast(supp_b as double)"
                "   / (cast(n_orders as double) * cast(n_orders as double)))"
                " * 1000000.0 + 0.5) as bigint)"
            ).alias("leverage_micro"),
            F.expr(
                "case when supp_ab < supp_a then"
                " cast(floor((1.0 - cast(supp_b as double) / cast(n_orders as double))"
                " / (1.0 - cast(supp_ab as double) / cast(supp_a as double))"
                " * 1000000.0 + 0.5) as bigint) end"
            ).alias("conviction_micro"),
        )
    )
    w = Window.orderBy(
        F.col("conf_micro").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= RULES_TOPK)
        .select(
            "rank",
            "part_a",
            "part_b",
            "supp_ab",
            "conf_micro",
            "leverage_micro",
            "conviction_micro",
        )
    )


QUERIES["basket_association_rules"] = q_basket_association_rules


def _rules_oracle() -> str:
    return f"""
    WITH order_part AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), ok_orders AS (
        SELECT l_orderkey FROM order_part GROUP BY l_orderkey
        HAVING count(*) <= {BASKET_MAX}
    ), capped AS (
        SELECT op.l_orderkey, op.l_partkey
        FROM order_part op JOIN ok_orders USING (l_orderkey)
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*)::BIGINT AS supp_ab
        FROM capped a JOIN capped b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), directed AS (
        SELECT part_a, part_b, supp_ab FROM pairs
        UNION ALL
        SELECT part_b, part_a, supp_ab FROM pairs
    ), supp AS (
        SELECT l_partkey, count(*)::BIGINT AS supp FROM order_part
        GROUP BY l_partkey
    ), n AS (
        SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM order_part
    ), scored AS (
        SELECT d.part_a, d.part_b, d.supp_ab,
               floor(d.supp_ab::DOUBLE / sa.supp::DOUBLE * 1000000.0
                     + 0.5)::BIGINT AS conf_micro,
               floor((d.supp_ab::DOUBLE / n.n_orders::DOUBLE
                      - sa.supp::DOUBLE * sb.supp::DOUBLE
                        / (n.n_orders::DOUBLE * n.n_orders::DOUBLE))
                     * 1000000.0 + 0.5)::BIGINT AS leverage_micro,
               CASE WHEN d.supp_ab < sa.supp THEN
                 floor((1.0 - sb.supp::DOUBLE / n.n_orders::DOUBLE)
                       / (1.0 - d.supp_ab::DOUBLE / sa.supp::DOUBLE)
                       * 1000000.0 + 0.5)::BIGINT END AS conviction_micro
        FROM directed d
        JOIN supp sa ON sa.l_partkey = d.part_a
        JOIN supp sb ON sb.l_partkey = d.part_b
        CROSS JOIN n
    )
    SELECT row_number() OVER (ORDER BY conf_micro DESC, part_a ASC, part_b ASC)
               AS rank,
           part_a, part_b, supp_ab, conf_micro, leverage_micro, conviction_micro
    FROM scored
    ORDER BY conf_micro DESC, part_a ASC, part_b ASC
    LIMIT {RULES_TOPK}
    """


ORACLES["basket_association_rules"] = _rules_oracle()


def q_stats_f_oneway(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F test (Fisher 1925) across event-type groups on
    event value — the parametric mean-separation twin of
    stats_kruskal_wallis (KW compares rank distributions; F compares
    means under the equal-variance normal model; running both is the
    standard robustness pairing), plus eta-squared (SSB/SST), the
    explained-variance effect size.

    Determinism discipline: per-group moments (n_j, sum, sum of
    squares) are exact bigint sums over exact milli values from ONE
    combine-friendly aggregate; SSB = sum(s_j^2/n_j) - S^2/N and
    SSW = SS - sum(s_j^2/n_j) evaluate as fixed double expressions over
    those integers (the s_j^2 products are the chi-square double
    precedent), F and eta^2 floored once to micros.

    int64-headroom guard (ENFORCED, max-reading): sum(v^2) <= N *
    max|v|^2, so log2(N) + 2*log2(max|v|) < 62; tripped -> NULL LOUDLY,
    mirrored in the oracle.

    Scale shape: one scan, one k-row aggregate, one 1-row fold."""
    ev = load(spark, sf, "events")
    # complete-case: NULL values carry no variance information and would
    # dilute n_j; try_* keeps the guard's NULL-LOUDLY contract under ANSI
    # (oracle mirror: HUGEINT products, matching WHERE)
    vals = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v"),
    )
    groups = vals.groupBy("event_type").agg(
        F.count("*").alias("n_j"),
        F.sum("v").alias("s_j"),
        F.expr("try_sum(try_multiply(v, v))").alias("ss_j"),
        F.max(F.abs("v")).alias("max_v_j"),
    )
    g = groups.agg(
        F.count("*").alias("k_groups"),
        F.sum("n_j").alias("n_total"),
        F.sum("s_j").alias("s_tot"),
        F.sum("ss_j").alias("ss_tot"),
        F.sum(
            F.col("s_j").cast("double")
            * F.col("s_j").cast("double")
            / F.col("n_j").cast("double")
        ).alias("sum_sq_over_n"),
        F.max("max_v_j").alias("max_v"),
    )
    ok = F.expr(
        "case when n_total = 0 then true else"
        " log2(cast(n_total as double))"
        " + 2.0 * log2(cast(greatest(max_v, 2) as double)) < 62.0 end"
    )
    ssb = (
        "(sum_sq_over_n - cast(s_tot as double) * cast(s_tot as double)"
        " / cast(n_total as double))"
    )
    ssw = "(cast(ss_tot as double) - sum_sq_over_n)"
    f_stat = F.expr(
        f"case when k_groups > 1 and n_total > k_groups and {ssw} > 0.0 then"
        f" ({ssb} / (cast(k_groups as double) - 1.0))"
        f" / ({ssw} / (cast(n_total as double) - cast(k_groups as double)))"
        " end"
    )
    eta2 = F.expr(
        f"case when {ssb} + {ssw} > 0.0 then {ssb} / ({ssb} + {ssw}) end"
    )
    return g.select(
        "n_total",
        "k_groups",
        F.when(ok, F.col("s_tot")).alias("sum_milli"),
        F.when(ok, F.floor(f_stat * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "f_micro"
        ),
        F.when(ok, F.floor(eta2 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "eta2_micro"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["stats_f_oneway"] = q_stats_f_oneway
ORACLES["stats_f_oneway"] = """
    WITH vals AS (
        SELECT event_type, floor(value * 1000 + 0.5)::BIGINT AS v FROM events
        WHERE value IS NOT NULL
    ), groups AS (
        SELECT event_type, count(*)::BIGINT AS n_j, sum(v)::BIGINT AS s_j,
               sum(v::HUGEINT * v) AS ss_j, max(abs(v))::BIGINT AS max_v_j
        FROM vals GROUP BY event_type
    ), g AS (
        SELECT count(*)::BIGINT AS k_groups, sum(n_j)::BIGINT AS n_total,
               sum(s_j)::BIGINT AS s_tot, sum(ss_j) AS ss_tot,
               sum(s_j::DOUBLE * s_j::DOUBLE / n_j::DOUBLE) AS sum_sq_over_n,
               max(max_v_j)::BIGINT AS max_v
        FROM groups
    ), ok_t AS (
        SELECT *, CASE WHEN n_total = 0 THEN true ELSE
                  log2(n_total::DOUBLE)
                  + 2.0 * log2(greatest(max_v, 2)::DOUBLE) < 62.0
                  END AS headroom_ok
        FROM g
    )
    SELECT n_total, k_groups,
           CASE WHEN headroom_ok THEN s_tot END AS sum_milli,
           CASE WHEN headroom_ok THEN
             CASE WHEN k_groups > 1 AND n_total > k_groups
                   AND ss_tot::DOUBLE - sum_sq_over_n > 0.0 THEN
               floor(((sum_sq_over_n - s_tot::DOUBLE * s_tot::DOUBLE
                       / n_total::DOUBLE) / (k_groups::DOUBLE - 1.0))
                     / ((ss_tot::DOUBLE - sum_sq_over_n)
                        / (n_total::DOUBLE - k_groups::DOUBLE))
                     * 1000000.0 + 0.5)::BIGINT END
           END AS f_micro,
           CASE WHEN headroom_ok THEN
             CASE WHEN (sum_sq_over_n - s_tot::DOUBLE * s_tot::DOUBLE
                        / n_total::DOUBLE)
                       + (ss_tot::DOUBLE - sum_sq_over_n) > 0.0 THEN
               floor((sum_sq_over_n - s_tot::DOUBLE * s_tot::DOUBLE
                      / n_total::DOUBLE)
                     / ((sum_sq_over_n - s_tot::DOUBLE * s_tot::DOUBLE
                         / n_total::DOUBLE)
                        + (ss_tot::DOUBLE - sum_sq_over_n))
                     * 1000000.0 + 0.5)::BIGINT END
           END AS eta2_micro,
           headroom_ok
    FROM ok_t
"""


#: time-to-convert percentile probes (percent units)
TTC_PCTS = (25, 50, 75, 90)


def q_funnel_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distribution: exact percentiles of the latency
    from a user's FIRST view to their first purchase strictly after it
    — the funnel's "how long does conversion take" readout that decides
    attribution windows and re-engagement timing (funnel_conversion /
    funnel_windowed count WHO converts; this measures WHEN).

    Exact-percentile discipline (the outlier_robust_mad / weighted-
    median pattern): latencies are exact integer seconds; each
    percentile is the smallest latency v whose running count satisfies
    100*cum >= p*n over the DISTINCT-LATENCY table — no interpolation,
    no float boundaries, engine-exact by integer cross-multiplication.

    Scale shape: two user-keyed aggregates (first view, first purchase
    after it — one join on the funnel's shared user partitioning), then
    the percentile machinery runs over the DISTINCT-latency table
    (value cardinality); the report is a 1-row fold."""
    ev = load(spark, sf, "events")
    first_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    purch = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    conv = (
        first_view.join(purch, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"), F.min("t_view").alias("t_view"))
        .select(
            F.expr(
                "cast(unix_timestamp(t_purchase) - unix_timestamp(t_view)"
                " as bigint)"
            ).alias("delta_s")
        )
    )
    dv = conv.groupBy("delta_s").agg(F.count("*").alias("t"))
    w = Window.orderBy("delta_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = dv.select(
        "delta_s", F.sum("t").over(w).alias("cum")
    )
    tot = dv.groupBy().agg(F.sum("t").alias("n"))
    probes = cum.crossJoin(F.broadcast(tot))
    aggs = [F.max("n").alias("n_converted")] + [
        F.min(
            F.when(100 * F.col("cum") >= p * F.col("n"), F.col("delta_s"))
        ).alias(f"p{p}_s")
        for p in TTC_PCTS
    ]
    return probes.agg(*aggs)


QUERIES["funnel_time_to_convert"] = q_funnel_time_to_convert
ORACLES["funnel_time_to_convert"] = f"""
    WITH first_view AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), conv AS (
        SELECT e.user_id,
               date_diff('second', v.t_view, min(e.ts))::BIGINT AS delta_s
        FROM events e JOIN first_view v USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        GROUP BY e.user_id, v.t_view
    ), dv AS (
        SELECT delta_s, count(*)::BIGINT AS t FROM conv GROUP BY delta_s
    ), cum AS (
        SELECT delta_s,
               sum(t) OVER (ORDER BY delta_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM dv
    ), tot AS (SELECT sum(t)::BIGINT AS n FROM dv)
    SELECT max(n)::BIGINT AS n_converted,
           {", ".join(f"min(CASE WHEN 100 * cum >= {p} * n THEN delta_s END)::BIGINT AS p{p}_s" for p in TTC_PCTS)}
    FROM cum CROSS JOIN tot
"""


#: permutation-test resamples (the observed labeling is replicate 0)
PERM_K = 64


def q_abtest_permutation_test(spark: SparkSession, sf: str) -> DataFrame:
    """Permutation test (Fisher 1935) for the arm difference in per-user
    purchase spend: relabel users into pseudo-arms PERM_K times, measure
    how often the relabeled |mean difference| reaches the observed one —
    the exact-logic significance test that needs NO normality, variance,
    or large-n assumption (the inference of last resort when the value
    distribution defeats the z/t machinery).

    Deterministic resampling discipline (no RNG anywhere): replicate k
    assigns user u to arm portable_hash(user_id || ':' || k) % 2 — the
    salted-hash split every sampler in this engine uses, reproduced
    bit-exactly by the DuckDB oracle via the md5 portable-hash SQL. The
    whole resample fan-out is ONE explode of the per-user aggregate
    (never of raw events), so the shuffle carries users x (K+1) rows of
    three integers.

    Determinism: per-replicate arm sums/counts are exact integers; each
    replicate's |mean diff| is quantized to integer micro-millis FIRST
    (floor once), and the comparison against the observed replicate and
    the p-value (1 + #{k >= obs}) / (K + 1) are pure integer
    arithmetic.

    Scale shape: one combine-friendly user aggregate, one map-side
    explode, one (K+1 x 2)-row aggregate, one broadcast of the observed
    stat. At 100 TB the only corpus-sized exchange is the user
    aggregate every A/B op shares."""
    ev = load(spark, sf, "events")
    users = ev.where(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("y")
    ).select("user_id", (F.col("user_id") % 2).cast("int").alias("arm"), "y")
    return permutation_test(users)


def permutation_test(
    user_metrics: DataFrame,
    *,
    unit_col: str = "user_id",
    variant_col: str = "arm",
    metric_col: str = "y",
    n_perms: int = PERM_K,
) -> DataFrame:
    """Permutation test for the arm mean difference over ANY unit-level
    frame (unit id, observed 0/1 arm, integer-milli metric) — one row
    (n_perms, stat_obs_micro, n_ge, p_micro). Replicate k reassigns unit
    u to arm portable-hash(u ':' k) % 2 (no RNG — deterministic across
    runs and engines); replicate 0 is the OBSERVED assignment. Resampling
    discipline and plan notes in `q_abtest_permutation_test`."""
    reps = user_metrics.select(
        F.col(unit_col).alias("__unit"),
        F.col(variant_col).alias("__arm0"),
        F.col(metric_col).alias("y"),
        F.explode(F.sequence(F.lit(0), F.lit(n_perms))).alias("k"),
    ).select(
        "k",
        "y",
        F.expr(
            "case when k = 0 then cast(__arm0 as int) else"
            " cast(conv(substring(md5(concat(cast(__unit as string), ':',"
            " cast(k as string))), 1, 15), 16, 10) as bigint) % 2 end"
        )
        .cast("int")
        .alias("arm"),
    )
    per_rep = (
        reps.groupBy("k", "arm")
        .agg(F.count("*").alias("n_a"), F.sum("y").alias("s_a"))
        .groupBy("k")
        .agg(
            F.min(F.when(F.col("arm") == 0, F.col("n_a"))).alias("n0"),
            F.min(F.when(F.col("arm") == 0, F.col("s_a"))).alias("s0"),
            F.min(F.when(F.col("arm") == 1, F.col("n_a"))).alias("n1"),
            F.min(F.when(F.col("arm") == 1, F.col("s_a"))).alias("s1"),
        )
        .select(
            "k",
            F.expr(
                "case when n0 > 0 and n1 > 0 then"
                " cast(floor(abs(cast(s1 as double) / cast(n1 as double)"
                " - cast(s0 as double) / cast(n0 as double)) * 1000.0 + 0.5)"
                " as bigint) end"
            ).alias("stat_micro"),
        )
    )
    obs = per_rep.where(F.col("k") == 0).select(
        F.col("stat_micro").alias("stat_obs_micro")
    )
    scored = per_rep.where(F.col("k") > 0).crossJoin(F.broadcast(obs))
    return scored.agg(
        F.count("*").alias("n_perms"),
        F.min("stat_obs_micro").alias("stat_obs_micro"),
        F.sum(
            F.expr(
                "case when stat_obs_micro is null then cast(null as int)"
                " else if(stat_micro >= stat_obs_micro, 1, 0) end"
            )
        ).alias("n_ge"),
        F.expr(
            "case when min(stat_obs_micro) is null then cast(null as bigint)"
            " else (2000000 * (1 + sum(if(stat_micro >= stat_obs_micro, 1, 0)))"
            " + (count(*) + 1)) div (2 * (count(*) + 1)) end"
        ).alias("p_micro"),
    )


QUERIES["abtest_permutation_test"] = q_abtest_permutation_test
ORACLES["abtest_permutation_test"] = f"""
    WITH users AS (
        SELECT user_id, sum(floor(value * 1000 + 0.5)::BIGINT)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), reps AS (
        SELECT k.k, u.y,
               CASE WHEN k.k = 0 THEN (u.user_id % 2)::INT ELSE
                 ((('0x' || substr(md5(u.user_id::VARCHAR || ':' ||
                    k.k::VARCHAR), 1, 15))::BIGINT) % 2)::INT END AS arm
        FROM users u
        CROSS JOIN (SELECT unnest(generate_series(0, {PERM_K})) AS k) k
    ), per_rep AS (
        SELECT k,
               min(CASE WHEN arm = 0 THEN n_a END)::BIGINT AS n0,
               min(CASE WHEN arm = 0 THEN s_a END)::BIGINT AS s0,
               min(CASE WHEN arm = 1 THEN n_a END)::BIGINT AS n1,
               min(CASE WHEN arm = 1 THEN s_a END)::BIGINT AS s1
        FROM (
            SELECT k, arm, count(*)::BIGINT AS n_a, sum(y)::BIGINT AS s_a
            FROM reps GROUP BY k, arm
        ) GROUP BY k
    ), stats AS (
        SELECT k,
               CASE WHEN n0 > 0 AND n1 > 0 THEN
                 floor(abs(s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE)
                       * 1000.0 + 0.5)::BIGINT END AS stat_micro
        FROM per_rep
    ), obs AS (
        SELECT stat_micro AS stat_obs_micro FROM stats WHERE k = 0
    )
    SELECT count(*)::BIGINT AS n_perms,
           min(stat_obs_micro)::BIGINT AS stat_obs_micro,
           sum(CASE WHEN stat_obs_micro IS NULL THEN NULL
                    ELSE (stat_micro >= stat_obs_micro)::INT END)::BIGINT AS n_ge,
           (CASE WHEN min(stat_obs_micro) IS NULL THEN NULL
                 ELSE ((2000000 * (1 + sum((stat_micro >= stat_obs_micro)::INT))
                        + (count(*) + 1)) // (2 * (count(*) + 1)))
            END)::BIGINT AS p_micro
    FROM stats CROSS JOIN obs WHERE k > 0
"""


#: streak report size
STREAK_TOPK = 15


def q_user_activity_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands rewrite (island id = day_number - row_number over
    the user's DISTINCT active days, constant within each maximal run),
    reported as the top STREAK_TOPK users by (longest streak desc,
    n_active_days desc, user_id asc) — the engagement-loyalty metric
    every retention team tracks next to cohort_retention (cohorts
    grade RETURN; streaks grade CONTINUITY).

    Determinism: days are exact integers (datediff from a fixed epoch),
    the island id is integer arithmetic over integer row_numbers, and
    every reported column is an exact count; the cut is a total order.

    Scale shape: one user-keyed exchange shared with every clickstream
    op; the distinct-day table is a per-user combine-friendly
    aggregate; the row_number window and the island groupBy both run
    under the SAME user_id hash partitioning (no second exchange); the
    global cut is a TakeOrdered over user-level rows."""
    ev = load(spark, sf, "events")
    days = (
        ev.select(
            "user_id",
            F.expr("datediff(to_date(ts), date'1970-01-01')").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("run_len")
    )
    per_user = runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak_days"),
        F.sum("run_len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
    )
    wr = Window.orderBy(
        F.col("longest_streak_days").desc(),
        F.col("n_active_days").desc(),
        F.col("user_id").asc(),
    )
    return (
        per_user.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= STREAK_TOPK)
        .select(
            "rank", "user_id", "longest_streak_days", "n_active_days", "n_streaks"
        )
    )


QUERIES["user_activity_streaks"] = q_user_activity_streaks
ORACLES["user_activity_streaks"] = f"""
    WITH days AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day
        FROM events
    ), islands AS (
        SELECT user_id, day,
               day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS island
        FROM days
    ), runs AS (
        SELECT user_id, island, count(*)::BIGINT AS run_len
        FROM islands GROUP BY user_id, island
    ), per_user AS (
        SELECT user_id, max(run_len)::BIGINT AS longest_streak_days,
               sum(run_len)::BIGINT AS n_active_days,
               count(*)::BIGINT AS n_streaks
        FROM runs GROUP BY user_id
    )
    SELECT row_number() OVER (ORDER BY longest_streak_days DESC,
                              n_active_days DESC, user_id ASC) AS rank,
           user_id, longest_streak_days, n_active_days, n_streaks
    FROM per_user
    ORDER BY longest_streak_days DESC, n_active_days DESC, user_id ASC
    LIMIT {STREAK_TOPK}
"""


def q_events_markov_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain (Shannon 1948):
    H = -sum_i pi_i * sum_j p_ij ln p_ij over the event_transition_matrix
    chain, with the stationary weight pi_i estimated as state i's share
    of observed transitions — ONE number for "how predictable is the
    next user action", the information-theoretic summary the
    transition-matrix op displays as a grid. Reported next to the
    maximum ln|states| so the predictability ratio is read directly.

    Determinism discipline (the KL micro-nat pattern): per-(i,j) the
    term -ln(n_ij / n_i) is floored to integer micro-nats FIRST, then
    count-weighted (n_ij) and integer-summed; the single final division
    by N (total transitions) is one double expression floored once.
    |states| and ln|states| are exact integers / one literal-free ln
    over an exact integer.

    int64-headroom: |micro| <= 1e6 * ln(N), count-weighted sums bounded
    by N * that — the JS-divergence guard form, ENFORCED: log2(N) +
    log2(1e6*ln(N)+1) < 62, loud NULL, mirrored in the oracle.

    Scale shape: the transition counts are the |types|^2 aggregate off
    ONE user-keyed lag window (the transition-matrix shape); everything
    downstream is domain-sized."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = ev.select(
        F.lag("event_type").over(w).alias("i"),
        F.col("event_type").alias("j"),
    ).where(F.col("i").isNotNull())
    counts = trans.groupBy("i", "j").agg(F.count("*").alias("n_ij"))
    row_tot = counts.groupBy("i").agg(F.sum("n_ij").alias("n_i"))
    tot = row_tot.groupBy().agg(
        F.sum("n_i").alias("n"), F.count("*").alias("n_states")
    )
    scored = (
        counts.join(F.broadcast(row_tot), "i")
        .withColumn(
            "micro",
            F.expr(
                "cast(floor(-ln(cast(n_ij as double) / cast(n_i as double))"
                " * 1000000.0 + 0.5) as bigint)"
            ),
        )
    )
    g = scored.agg(
        F.sum(F.col("n_ij") * F.col("micro")).alias("wsum"),
    ).crossJoin(F.broadcast(tot))
    ok = F.expr(
        "case when n <= 1 then true else"
        " log2(cast(n as double))"
        " + log2(1000000.0 * ln(cast(n as double)) + 1.0) < 62.0 end"
    )
    return g.select(
        "n",
        "n_states",
        F.when(
            ok,
            F.expr("cast(floor(cast(wsum as double) / cast(n as double) + 0.5) as bigint)"),
        ).alias("entropy_rate_micronats"),
        F.when(
            ok,
            F.expr(
                "cast(floor(ln(cast(n_states as double)) * 1000000.0 + 0.5) as bigint)"
            ),
        ).alias("max_entropy_micronats"),
        ok.alias("headroom_ok"),
    )


QUERIES["events_markov_entropy"] = q_events_markov_entropy
ORACLES["events_markov_entropy"] = """
    WITH trans AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS i,
               event_type AS j
        FROM events
    ), counts AS (
        SELECT i, j, count(*)::BIGINT AS n_ij FROM trans
        WHERE i IS NOT NULL GROUP BY i, j
    ), row_tot AS (
        SELECT i, sum(n_ij)::BIGINT AS n_i FROM counts GROUP BY i
    ), tot AS (
        SELECT sum(n_i)::BIGINT AS n, count(*)::BIGINT AS n_states
        FROM row_tot
    ), scored AS (
        SELECT c.n_ij,
               floor(-ln(c.n_ij::DOUBLE / r.n_i::DOUBLE) * 1000000.0
                     + 0.5)::BIGINT AS micro
        FROM counts c JOIN row_tot r USING (i)
    ), g AS (
        SELECT sum(n_ij * micro)::BIGINT AS wsum FROM scored
    ), ok_t AS (
        SELECT *, CASE WHEN n <= 1 THEN true ELSE
                  log2(n::DOUBLE) + log2(1000000.0 * ln(n::DOUBLE) + 1.0)
                  < 62.0 END AS headroom_ok
        FROM g CROSS JOIN tot
    )
    SELECT n, n_states,
           CASE WHEN headroom_ok THEN
             floor(wsum::DOUBLE / n::DOUBLE + 0.5)::BIGINT
           END AS entropy_rate_micronats,
           CASE WHEN headroom_ok THEN
             floor(ln(n_states::DOUBLE) * 1000000.0 + 0.5)::BIGINT
           END AS max_entropy_micronats,
           headroom_ok
    FROM ok_t
"""


def q_orders_open_interval_census(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order census per month — how many orders were IN FLIGHT
    (placed but not yet fully shipped) during each calendar month — via
    the interval delta-sweep: every order contributes +1 at its opening
    month and -1 at the month AFTER its last shipment, and the census is
    one running sum over the month grid. The classic interval-stabbing
    rewrite: a naive month x open-interval join materializes
    |months| x |orders| rows; the sweep shuffles exactly 2 deltas per
    order into a |months|-bounded aggregate (the WIP/backlog readout
    every fulfillment dashboard needs).

    An order's interval is [month(o_orderdate), month(max l_shipdate)]
    over its line items (inner join: lineitem-less orders have no
    shipment evidence and are excluded — documented contract). The
    synthetic fixture contains orders whose latest shipment month
    precedes the order month (~19% at sf0.001 — the generator draws the
    dates independently); both engines CLAMP close >= open so such an
    order is open exactly its opening month, which is also what a real
    lake's dirty timestamps need (caught by the pure-Python reference
    test — the mirrored unclamped delta would silently hash-match).

    Determinism: months are exact integers (months_between fixed-epoch),
    deltas and running sums are pure integer arithmetic.

    Scale shape: one orderkey-keyed join + combine-friendly per-order
    max, a 2-delta map-side explode, one |months|-sized aggregate, and
    the running sum over the CALENDAR-bounded month table (the
    dense-grid trade every census op makes)."""
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.min(
                F.expr(
                    "cast(months_between(date_trunc('month', o_orderdate),"
                    " date'1970-01-01') as bigint)"
                )
            ).alias("m_open"),
            F.max(
                F.expr(
                    "cast(months_between(date_trunc('month', l_shipdate),"
                    " date'1970-01-01') as bigint)"
                )
            ).alias("m_close_raw"),
        )
        .select(
            "o_orderkey",
            "m_open",
            F.greatest("m_close_raw", "m_open").alias("m_close"),
        )
        # r14 note: pinning this twice-consumed frame measured SLOWER
        # (1.80 vs 1.60 s min-of-5 paired) — both consumers live in ONE
        # physical plan, so ReusedExchange already shares the join+agg
        # shuffle and the pin only adds a materialization barrier. Pins
        # pay when consumers are separate ACTIONS or differ upstream of
        # the exchange (survivor_by_quality, dsir), not here.
    )
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("m_open").alias("m"), F.lit(1).alias("d"),
                         F.lit(1).alias("opened"), F.lit(0).alias("closed")),
                F.struct((F.col("m_close") + 1).alias("m"), F.lit(-1).alias("d"),
                         F.lit(0).alias("opened"), F.lit(0).alias("closed")),
                F.struct(F.col("m_close").alias("m"), F.lit(0).alias("d"),
                         F.lit(0).alias("opened"), F.lit(1).alias("closed")),
            )
        ).alias("x")
    ).select("x.m", "x.d", "x.opened", "x.closed")
    monthly = deltas.groupBy("m").agg(
        F.sum("d").alias("delta"),
        F.sum("opened").alias("n_opened"),
        F.sum("closed").alias("n_closed"),
    )
    bounds = iv.groupBy().agg(
        F.min("m_open").alias("lo"), F.max("m_close").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("m")
    )
    dense = grid.join(monthly, "m", "left").select(
        "m",
        F.coalesce("delta", F.lit(0)).alias("delta"),
        F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return dense.select(
        F.expr(
            "cast(add_months(date'1970-01-01', cast(m as int)) as timestamp)"
        ).alias("month"),
        "n_opened",
        "n_closed",
        F.sum("delta").over(w).alias("open_during"),
    )


QUERIES["orders_open_interval_census"] = q_orders_open_interval_census
ORACLES["orders_open_interval_census"] = """
    WITH iv AS (
        SELECT o_orderkey, m_open, greatest(m_close_raw, m_open) AS m_close
        FROM (
            SELECT o.o_orderkey,
                   min(datediff('month', DATE '1970-01-01',
                       date_trunc('month', o.o_orderdate)))::BIGINT AS m_open,
                   max(datediff('month', DATE '1970-01-01',
                       date_trunc('month', l.l_shipdate)))::BIGINT AS m_close_raw
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey
        )
    ), deltas AS (
        SELECT m_open AS m, 1 AS d, 1 AS opened, 0 AS closed FROM iv
        UNION ALL
        SELECT m_close + 1, -1, 0, 0 FROM iv
        UNION ALL
        SELECT m_close, 0, 0, 1 FROM iv
    ), monthly AS (
        SELECT m, sum(d)::BIGINT AS delta, sum(opened)::BIGINT AS n_opened,
               sum(closed)::BIGINT AS n_closed
        FROM deltas GROUP BY m
    ), bounds AS (
        SELECT min(m_open) AS lo, max(m_close) AS hi FROM iv
    ), grid AS (
        SELECT unnest(generate_series((SELECT lo FROM bounds),
                                      (SELECT hi FROM bounds))) AS m
    ), dense AS (
        SELECT g.m, coalesce(mo.delta, 0)::BIGINT AS delta,
               coalesce(mo.n_opened, 0)::BIGINT AS n_opened,
               coalesce(mo.n_closed, 0)::BIGINT AS n_closed
        FROM grid g LEFT JOIN monthly mo ON mo.m = g.m
    )
    SELECT (DATE '1970-01-01' + to_months(m::INT))::TIMESTAMP AS month,
           n_opened, n_closed,
           sum(delta) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS open_during
    FROM dense
"""


def q_events_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    signup cohort (DAY of a user's FIRST event — day grain because the
    fixture stream spans one month; the production swap to month is one
    truncation constant) by cohort age in days, plus the per-user
    running LTV — the revenue completion of cohort_retention (retention
    counts who returns; LTV prices what the cohort is worth as it ages,
    the payback-period readout growth teams plot as the fan chart).

    Determinism: cohorts and ages are exact integer day indices
    (datediff against a fixed epoch); revenue is exact milli
    sums; the cumulative is an integer running-sum window; the per-user
    LTV is the exact integer micro division (2e6*cum + n) div (2n).

    Scale shape: one user-keyed aggregate finds first-event months (the
    cohort_retention shuffle), one broadcast join tags purchases, one
    (cohort x age) combine-friendly aggregate, and the running-sum
    window partitions by cohort over the CALENDAR-bounded grid."""
    ev = load(spark, sf, "events")
    m = "cast(datediff(to_date(ts), date'1970-01-01') as bigint)"
    firsts = ev.groupBy("user_id").agg(
        F.min(F.expr(m)).alias("cohort_m")
    )
    sizes = firsts.groupBy("cohort_m").agg(F.count("*").alias("cohort_users"))
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr(m).alias("ev_m"),
            F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v"),
        )
        .join(firsts, "user_id")
        .groupBy("cohort_m", (F.col("ev_m") - F.col("cohort_m")).alias("age"))
        .agg(F.sum("v").alias("rev_milli"), F.count("*").alias("n_purchases"))
    )
    w = Window.partitionBy("cohort_m").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_m")
        .select(
            F.expr(
                "cast(date_add(date'1970-01-01', cast(cohort_m as int))"
                " as timestamp)"
            ).alias("cohort_day"),
            "age",
            "cohort_users",
            "n_purchases",
            "rev_milli",
            F.sum("rev_milli").over(w).alias("cum_rev_milli"),
            # int64-headroom guard (ENFORCED INLINE): the 2e6x micro
            # scaling of the cumulative revenue overflows once
            # |cum_rev_milli| > (2^63-1-users)/2e6 ~ 4.6e12; both engines
            # NULL the ltv LOUDLY past it (Spark would otherwise throw
            # under ANSI, DuckDB would keep computing in HUGEINT)
            F.expr(
                "case when abs(sum(rev_milli) over (partition by cohort_m"
                " order by age rows between unbounded preceding and current row))"
                " <= (9223372036854775807 - cohort_users) div 2000000 then"
                " (2000000 * sum(rev_milli) over (partition by cohort_m"
                " order by age rows between unbounded preceding and current row)"
                " + cohort_users) div (2 * cohort_users) end"
            ).alias("ltv_per_user_micro_milli"),
        )
    )


QUERIES["events_cohort_ltv"] = q_events_cohort_ltv
ORACLES["events_cohort_ltv"] = """
    WITH firsts AS (
        SELECT user_id,
               min(datediff('day', DATE '1970-01-01', ts::DATE))::BIGINT
                   AS cohort_m
        FROM events GROUP BY user_id
    ), sizes AS (
        SELECT cohort_m, count(*)::BIGINT AS cohort_users
        FROM firsts GROUP BY cohort_m
    ), rev AS (
        SELECT f.cohort_m,
               (datediff('day', DATE '1970-01-01', e.ts::DATE)
                - f.cohort_m)::BIGINT AS age,
               sum(floor(e.value * 1000 + 0.5)::BIGINT)::BIGINT AS rev_milli,
               count(*)::BIGINT AS n_purchases
        FROM events e JOIN firsts f USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT (DATE '1970-01-01' + to_days(r.cohort_m::INT))::TIMESTAMP
               AS cohort_day,
           r.age, s.cohort_users, r.n_purchases, r.rev_milli,
           sum(r.rev_milli) OVER w::BIGINT AS cum_rev_milli,
           (CASE WHEN abs(sum(r.rev_milli) OVER w)
                      <= (9223372036854775807 - s.cohort_users) // 2000000
             THEN (2000000 * sum(r.rev_milli) OVER w + s.cohort_users)
                  // (2 * s.cohort_users) END)::BIGINT
               AS ltv_per_user_micro_milli
    FROM rev r JOIN sizes s USING (cohort_m)
    WINDOW w AS (PARTITION BY r.cohort_m ORDER BY r.age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


#: trailing window for the stickiness denominator (days)
WAU_WINDOW_DAYS = 7


def _wau_exact_counts(ud: DataFrame) -> DataFrame:
    """Exact trailing-WAU_WINDOW_DAYS active-user counts (day, wau) from a
    deduplicated (user_id, day) activity frame — WITHOUT the day-grid range
    join + count_distinct (r14, guide §2.2/§3.4).

    A user is WAU-active on day d iff they have an activity in
    (d - WINDOW, d], i.e. d lies in the union of [a, a + WINDOW - 1] over
    their activity days a. That union decomposes into DISJOINT spans via
    the per-user lag gap: activity a with previous activity p contributes
    exactly the days [max(a, p + WINDOW), a + WINDOW - 1] (the whole span
    when the gap exceeds the window, the non-overlapped tail otherwise).
    Each (user, covered-day) row is therefore emitted EXACTLY ONCE, so the
    per-day count is a plain map-side-combinable count(*) — no distinct.

    vs the range join: shuffled rows drop from |user-days| x WINDOW to
    |covered user-days| (<= the same bound, typically far less for sticky
    users), and the count_distinct expand/dedup second shuffle disappears.
    Days past the activity range are emitted but dropped by the caller's
    grid LEFT join, exactly as the range join's grid side did.

    NULL discipline (dirty-events parity): count_distinct(user_id) ignores
    NULL users, so NULL-user rows are filtered here explicitly; a NULL day
    yields a NULL sequence -> zero exploded rows, and as a lag-predecessor
    it coalesces to the full-window branch — identical to the range join,
    where NULL days never satisfy the between predicate."""
    w_u = Window.partitionBy("user_id").orderBy("day")
    cov = (
        ud.where(F.col("user_id").isNotNull())
        .withColumn("p", F.lag("day").over(w_u))
        .select(
            F.explode(
                F.expr(
                    f"sequence(greatest(day, coalesce(p + {WAU_WINDOW_DAYS}, day)),"
                    f" day + {WAU_WINDOW_DAYS} - 1)"
                )
            ).alias("day")
        )
    )
    return cov.groupBy("day").agg(F.count("*").alias("wau"))


def q_event_dau_wau_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Daily stickiness DAU/WAU: distinct active users each day over
    distinct active users in the trailing WAU_WINDOW_DAYS — the
    product-health ratio (a DAU/WAU near 1/7 means users touch the
    product once a week; near 1 means daily habit) that cohort and
    streak views don't collapse to one curve.

    Exact distinct-over-sliding-window is not windowable (count
    DISTINCT over a frame is inexpressible), so the census joins the
    deduplicated (user, day) activity table to the day grid with a
    range predicate — the shuffle carries at most |user-days| x
    WAU_WINDOW_DAYS rows, bounded by the activity table times a
    constant, never events x days. At 100 TB the swap is per-day HLL
    registers max-merged over the trailing 7 — IMPLEMENTED as
    `event_dau_wau_hll` (oracle-checked, with per-day sketch error);
    exact is right while |user-days| fits a shuffle.

    Determinism: days are exact integers; DAU/WAU are exact distinct
    counts; the ratio is the exact integer micro division."""
    ev = load(spark, sf, "events")
    ud = ev.select(
        "user_id",
        F.expr("cast(datediff(to_date(ts), date'1970-01-01') as bigint)").alias(
            "day"
        ),
    ).distinct().transform(pinned)
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    bounds = ud.groupBy().agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    # r14: disjoint-interval WAU (see _wau_exact_counts) replaces the
    # grid x user-days range join + count_distinct
    wau = _wau_exact_counts(ud)
    return (
        grid.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            F.expr(
                "cast(date_add(date'1970-01-01', cast(day as int)) as timestamp)"
            ).alias("day"),
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            F.expr(
                "case when coalesce(wau, 0) > 0 then"
                " (2000000 * coalesce(dau, 0) + wau) div (2 * wau)"
                " else cast(0 as bigint) end"
            ).alias("stickiness_micro"),
        )
    )


QUERIES["event_dau_wau_ratio"] = q_event_dau_wau_ratio
ORACLES["event_dau_wau_ratio"] = f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day
        FROM events
    ), dau AS (
        SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day
    ), bounds AS (
        SELECT min(day) AS lo, max(day) AS hi FROM ud
    ), grid AS (
        SELECT unnest(generate_series((SELECT lo FROM bounds),
                                      (SELECT hi FROM bounds))) AS day
    ), wau AS (
        SELECT g.day, count(DISTINCT u.user_id)::BIGINT AS wau
        FROM grid g JOIN ud u
          ON u.day <= g.day AND u.day > g.day - {WAU_WINDOW_DAYS}
        GROUP BY g.day
    )
    SELECT (DATE '1970-01-01' + to_days(g.day::INT))::TIMESTAMP AS day,
           coalesce(d.dau, 0)::BIGINT AS dau,
           coalesce(w.wau, 0)::BIGINT AS wau,
           CASE WHEN coalesce(w.wau, 0) > 0 THEN
             (2000000 * coalesce(d.dau, 0) + w.wau) // (2 * w.wau)
           ELSE 0 END::BIGINT AS stickiness_micro
    FROM grid g LEFT JOIN dau d ON d.day = g.day
    LEFT JOIN wau w ON w.day = g.day
"""


#: fill-rate SLA horizons (days from order placement to final shipment)
FILL_SLA_DAYS = (30, 60, 90)


def q_orders_fill_rate_sla(spark: SparkSession, sf: str) -> DataFrame:
    """Order fill-rate against shipment SLAs: the fraction of orders
    fully shipped within 30/60/90 days of placement, by order priority
    — the service-level readout next to the open-interval census (the
    census counts WIP stock; fill rate grades the promise kept).

    Fulfillment latency = max(l_shipdate) - o_orderdate in exact
    integer days (negative latencies from the fixture's independent
    date draws clamp to 0, the open-interval-census contract); each SLA
    column is an exact integer conditional count and the rates are
    exact integer micro divisions.

    Scale shape: one orderkey join + per-order max (combine-friendly),
    one priority-level fold."""
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.greatest(
                F.max(F.expr("datediff(to_date(l_shipdate), to_date(o_orderdate))")),
                F.lit(0),
            ).alias("lat_days")
        )
    )
    aggs = [F.count("*").alias("n_orders")] + [
        F.sum(F.expr(f"if(lat_days <= {d}, 1, 0)")).alias(f"n_within_{d}d")
        for d in FILL_SLA_DAYS
    ]
    g = lat.groupBy("o_orderpriority").agg(*aggs)
    rate_cols = [
        F.expr(
            f"(2000000 * n_within_{d}d + n_orders) div (2 * n_orders)"
        ).alias(f"rate_{d}d_micro")
        for d in FILL_SLA_DAYS
    ]
    return g.select(
        "o_orderpriority",
        "n_orders",
        *[F.col(f"n_within_{d}d") for d in FILL_SLA_DAYS],
        *rate_cols,
    )


QUERIES["orders_fill_rate_sla"] = q_orders_fill_rate_sla
ORACLES["orders_fill_rate_sla"] = f"""
    WITH lat AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               greatest(max(datediff('day', o.o_orderdate::DATE,
                                     l.l_shipdate::DATE)), 0)::BIGINT AS lat_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority
    )
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
           {", ".join(f"sum((lat_days <= {d})::INT)::BIGINT AS n_within_{d}d" for d in FILL_SLA_DAYS)},
           {", ".join(f"((2000000 * sum((lat_days <= {d})::INT) + count(*)) // (2 * count(*)))::BIGINT AS rate_{d}d_micro" for d in FILL_SLA_DAYS)}
    FROM lat GROUP BY o_orderpriority
"""


def q_event_dau_wau_hll(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch tier of `event_dau_wau_ratio` — the 100 TB path the
    exact query's docstring names, now implemented: per-day HyperLogLog
    registers (HLL_M = 64 tiny ints per day) are built in ONE pass over
    the deduplicated activity table, DAU is estimated from each day's
    own registers, and WAU from the trailing-WAU_WINDOW_DAYS MAX-merge —
    the merge runs on the |days| x 64 register table, so raw events are
    never re-touched per window (contrast the exact tier, whose range
    join carries |user-days| x 7 rows). Max-merge is associative,
    commutative, and idempotent (`sketch_hll_merge` proves the property
    end-to-end), which is exactly what makes the register table a
    maintainable daily-rollup artifact at any scale.

    The exact census is computed alongside ONLY to report the sketch's
    per-day relative error (the `sketch_kmv_distinct` measurement
    pattern); a production rollup drops the exact branch and keeps the
    registers.

    Same register construction and estimator as `sketch_hll_distinct`
    (trailing-zero rho over the portable 60-bit hash; exact-integer
    harmonic sum, one double division; linear-counting small-range
    branch) — fully reproduced in the DuckDB oracle, so the whole
    windowed sketch is hash-checked, not rows-only."""
    from ..functions.hashing import portable_hash
    from .textstats import HLL_ALPHA, HLL_M, _HLL_RHO_CAP, _hll_registers

    ev = load(spark, sf, "events")
    ud = (
        ev.select(
            "user_id",
            F.expr(
                "cast(datediff(to_date(ts), date'1970-01-01') as bigint)"
            ).alias("day"),
        )
        .distinct()
        # r15: r14's ud/daily_regs pins REVERTED under the fixed harness —
        # paired min-of-6 pinned 1.53 s vs unpinned 0.82 s: all consumers
        # live in ONE plan, ReusedExchange shares the distinct and register
        # exchanges, and the two pins only added materialization jobs per
        # run (the batch-6 pin-vs-ReusedExchange rule).
    )
    daily_regs = _hll_registers(  # (unpinned, see ud note above)
        ud.select("day", portable_hash(F.col("user_id").cast("string")).alias("h")), "day"
    )

    def estimate(regs: DataFrame, out: str) -> DataFrame:
        agg = regs.groupBy("day").agg(
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_CAP} - m_j)")
            ).alias("s_nonempty"),
            F.count("*").alias("v_nonempty"),
        )
        s = F.col("s_nonempty") + (F.lit(HLL_M) - F.col("v_nonempty")) * F.lit(
            1 << _HLL_RHO_CAP
        )
        v0 = F.lit(HLL_M) - F.col("v_nonempty")
        raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M * F.lit(float(1 << _HLL_RHO_CAP)) / s
        est = F.when(
            (raw <= 2.5 * HLL_M) & (v0 > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v0),
        ).otherwise(raw)
        return agg.select("day", est.alias(out))

    dau_hll = estimate(daily_regs, "dau_est")
    bounds = ud.groupBy().agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    wau_regs = (
        grid.join(
            daily_regs.select(
                F.col("day").alias("aday"), "bucket", "m_j"
            ),
            (F.col("aday") <= F.col("day"))
            & (F.col("aday") > F.col("day") - WAU_WINDOW_DAYS),
        )
        .groupBy("day", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    wau_hll = estimate(wau_regs, "wau_est")
    dau_exact = ud.groupBy("day").agg(F.count("*").alias("dau"))
    # r14: disjoint-interval WAU (see _wau_exact_counts) replaces the
    # grid x user-days range join + count_distinct
    wau_exact = _wau_exact_counts(ud)
    rel = lambda est, exact: F.when(  # noqa: E731
        F.col(exact) > 0, F.round(F.abs(F.col(est) - F.col(exact)) / F.col(exact), 4)
    )
    return (
        grid.join(dau_exact, "day", "left")
        .join(wau_exact, "day", "left")
        .join(dau_hll, "day", "left")
        .join(wau_hll, "day", "left")
        .select(
            F.expr(
                "cast(date_add(date'1970-01-01', cast(day as int)) as timestamp)"
            ).alias("day"),
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            F.round("dau_est", 2).alias("dau_hll"),
            F.round("wau_est", 2).alias("wau_hll"),
            rel("dau_est", "dau").alias("dau_rel_err"),
            rel("wau_est", "wau").alias("wau_rel_err"),
        )
    )


QUERIES["event_dau_wau_hll"] = q_event_dau_wau_hll


def _dau_wau_hll_oracle() -> str:
    from .textstats import HLL_ALPHA, HLL_M, HLL_P, _HLL_RHO_CAP

    est_cte = (
        f"SELECT day, CASE WHEN {HLL_ALPHA} * {HLL_M} * {HLL_M}"
        f" * {float(1 << _HLL_RHO_CAP)!r} / s <= 2.5 * {HLL_M} AND v0 > 0"
        f" THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v0)"
        f" ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M}"
        f" * {float(1 << _HLL_RHO_CAP)!r} / s END AS e"
    )
    agg = (
        f"sum((1::BIGINT << ({_HLL_RHO_CAP} - m_j)))::BIGINT"
        f" + ({HLL_M} - count(*)) * (1::BIGINT << {_HLL_RHO_CAP}) AS s, "
        f"{HLL_M} - count(*) AS v0"
    )
    return f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day
        FROM events
    ), hashed AS (
        SELECT day,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) AS h
        FROM ud
    ), daily_regs AS (
        SELECT day, h % {HLL_M} AS bucket,
               max(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_CAP}
                        ELSE length(bin((h >> {HLL_P}) & -(h >> {HLL_P})))
                   END) AS m_j
        FROM hashed GROUP BY 1, 2
    ), bounds AS (
        SELECT min(day) AS lo, max(day) AS hi FROM ud
    ), grid AS (
        SELECT unnest(generate_series((SELECT lo FROM bounds),
                                      (SELECT hi FROM bounds))) AS day
    ), dau_agg AS (
        SELECT day, {agg} FROM daily_regs GROUP BY day
    ), dau_est AS (
        {est_cte} FROM dau_agg
    ), wau_regs AS (
        SELECT g.day, r.bucket, max(r.m_j) AS m_j
        FROM grid g JOIN daily_regs r
          ON r.day <= g.day AND r.day > g.day - {WAU_WINDOW_DAYS}
        GROUP BY g.day, r.bucket
    ), wau_agg AS (
        SELECT day, {agg} FROM wau_regs GROUP BY day
    ), wau_est AS (
        {est_cte} FROM wau_agg
    ), dau_x AS (
        SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day
    ), wau_x AS (
        SELECT g.day, count(DISTINCT u.user_id)::BIGINT AS wau
        FROM grid g JOIN ud u
          ON u.day <= g.day AND u.day > g.day - {WAU_WINDOW_DAYS}
        GROUP BY g.day
    )
    SELECT (DATE '1970-01-01' + to_days(g.day::INT))::TIMESTAMP AS day,
           coalesce(dx.dau, 0)::BIGINT AS dau,
           coalesce(wx.wau, 0)::BIGINT AS wau,
           round(de.e, 2) AS dau_hll,
           round(we.e, 2) AS wau_hll,
           CASE WHEN coalesce(dx.dau, 0) > 0
                THEN round(abs(de.e - dx.dau) / dx.dau, 4) END AS dau_rel_err,
           CASE WHEN coalesce(wx.wau, 0) > 0
                THEN round(abs(we.e - wx.wau) / wx.wau, 4) END AS wau_rel_err
    FROM grid g
    LEFT JOIN dau_x dx ON dx.day = g.day
    LEFT JOIN wau_x wx ON wx.day = g.day
    LEFT JOIN dau_est de ON de.day = g.day
    LEFT JOIN wau_est we ON we.day = g.day
    """


ORACLES["event_dau_wau_hll"] = _dau_wau_hll_oracle()


def _daily_revenue_series(spark: SparkSession, sf: str) -> DataFrame:
    """(day_idx, day, y) — exact integer-MILLI purchase revenue per day
    over the complete calendar grid (zero-filled), day_idx = 1..n_days.
    The shared input of the r11 trend-inference trio (Theil-Sen slope,
    Mann-Kendall test, CUSUM changepoint): one combine-friendly day
    aggregate + a |days|-row grid join — everything downstream is
    calendar-grid-bounded, never event-bounded."""
    ev = load(spark, sf, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.expr(
                "cast(datediff(to_date(ts), date'1970-01-01') as bigint)"
            ).alias("day"),
            F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").alias("y"))
    )
    bounds = ev.groupBy().agg(
        F.expr(
            "min(cast(datediff(to_date(ts), date'1970-01-01') as bigint))"
        ).alias("lo"),
        F.expr(
            "max(cast(datediff(to_date(ts), date'1970-01-01') as bigint))"
        ).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"), "lo"
    )
    return grid.join(daily, "day", "left").select(
        (F.col("day") - F.col("lo") + 1).alias("day_idx"),
        "day",
        F.coalesce("y", F.lit(0)).alias("y"),
    )


_DAILY_REVENUE_DUCK = """
    daily AS (
        SELECT datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
               sum(floor(value * 1000 + 0.5)::BIGINT)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY day
    ), bounds AS (
        SELECT min(datediff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS lo,
               max(datediff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS hi
        FROM events
    ), series AS (
        SELECT g.day - b.lo + 1 AS day_idx, g.day,
               coalesce(d.y, 0)::BIGINT AS y
        FROM bounds b,
             LATERAL (SELECT unnest(generate_series(b.lo, b.hi)) AS day) g
        LEFT JOIN daily d ON d.day = g.day
    )
"""


def q_stats_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) on daily purchase
    revenue: S = sum over day pairs of sign(y_j - y_i), with the
    tie-corrected variance Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]/18
    and the continuity-corrected z — the nonparametric is-there-a-trend
    test run BEFORE trusting a Theil-Sen slope (the same pairing as
    stats_kruskal_wallis + stats_f_oneway: assumption-free twin first).

    Determinism: S and the x18 variance numerator are exact integers
    (pair census + tie census); z = (S -/+ 1)/sqrt(V18/18) evaluates in
    one fixed double expression, micro-quantized once. Scale shape: the
    pair expansion is |days|^2 grid-bounded; ties census is one groupBy
    over the |days|-row series."""
    return mann_kendall(_daily_revenue_series(spark, sf).transform(pinned))


def mann_kendall(
    series: DataFrame, *, idx_col: str = "day_idx", value_col: str = "y"
) -> DataFrame:
    """Mann-Kendall trend test over ANY ordered (index, value) series
    frame — one row (n_days, s_stat, var18, z_micro, trend). The pair
    expansion is |series|^2: bound the series (a daily/hourly rollup, as
    the fixture shim does), never raw events. Determinism notes in
    `q_stats_mann_kendall`."""
    s = series.select(
        F.col(idx_col).alias("day_idx"), F.col(value_col).alias("y")
    )
    a, b = s.alias("a"), s.alias("b")
    s_stat = (
        a.join(b, F.col("a.day_idx") < F.col("b.day_idx"))
        .groupBy()
        .agg(
            F.sum(F.expr("sign(b.y - a.y)")).cast("bigint").alias("s_stat"),
            F.count("*").alias("n_pairs"),
        )
    )
    ties = (
        s.groupBy("y")
        .agg(F.count("*").alias("t"))
        .groupBy()
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).alias("tie_term"),
            F.sum(F.lit(1)).alias("n_vals"),
        )
    )
    n = s.groupBy().agg(F.count("*").alias("n_days"))
    return (
        s_stat.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(n))
        .select(
            "n_days",
            "s_stat",
            F.expr(
                "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"
            ).alias("var18"),
            F.expr(
                "case when n_days * (n_days - 1) * (2 * n_days + 5) - tie_term > 0"
                " and s_stat <> 0 then cast(floor("
                " (cast(s_stat as double) - cast(sign(s_stat) as double))"
                " / sqrt((cast(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"
                " as double)) / 18.0d) * 1000000 + 0.5) as bigint)"
                " else cast(0 as bigint) end"
            ).alias("z_micro"),
            F.expr(
                "case when s_stat > 0 then 'up' when s_stat < 0 then 'down'"
                " else 'none' end"
            ).alias("trend"),
        )
    )


QUERIES["stats_mann_kendall"] = q_stats_mann_kendall
ORACLES["stats_mann_kendall"] = f"""
    WITH {_DAILY_REVENUE_DUCK.strip()},
    sstat AS (
        SELECT sum(sign(b.y - a.y))::BIGINT AS s_stat,
               count(*)::BIGINT AS n_pairs
        FROM series a JOIN series b ON a.day_idx < b.day_idx
    ), ties AS (
        SELECT sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
        FROM (SELECT count(*)::BIGINT AS t FROM series GROUP BY y)
    ), n AS (
        SELECT count(*)::BIGINT AS n_days FROM series
    )
    SELECT n_days, s_stat,
           (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)::BIGINT
           AS var18,
           (CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_term > 0
                 AND s_stat <> 0 THEN floor(
             (s_stat::DOUBLE - sign(s_stat)::DOUBLE)
             / sqrt((n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)::DOUBLE
                    / 18.0) * 1000000 + 0.5)
           ELSE 0 END)::BIGINT AS z_micro,
           CASE WHEN s_stat > 0 THEN 'up' WHEN s_stat < 0 THEN 'down'
                ELSE 'none' END AS trend
    FROM sstat CROSS JOIN ties CROSS JOIN n
"""


def q_abtest_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947) on purchase values
    between the deterministic arms — the two-sample mean test that drops
    Student's equal-variance assumption (the default recommendation since
    Ruxton 2006), completing the battery: proportion z (conversion),
    Mann-Whitney (distribution shift), Cohen's d (effect size), CUPED
    (variance reduction), permutation (assumption-free) — and now the
    parametric mean contrast with the Welch-Satterthwaite df.

    Determinism discipline (the cohens_d template): complete-case milli
    values, exact per-arm moments from one 2-row aggregate with try_*
    squares (the guard NULLs LOUDLY under ANSI instead of throwing), the
    t statistic and df evaluated in one fixed double expression each,
    floored once to micros; significance compares |t_micro| against the
    integer 1.96 critical value (normal approximation — exact at the
    corpus-scale df this engine targets, documented).

    Scale shape: one scan, one 2-row aggregate, one 1-row fold."""
    ev = load(spark, sf, "events")
    vals = ev.where(F.col("event_type") == "purchase").select(
        F.expr("cast(user_id % 2 as int)").alias("arm"), "value"
    )
    return welch_ttest(vals)


def welch_ttest(
    values: DataFrame,
    *,
    variant_col: str = "arm",
    value_col: str = "value",
) -> DataFrame:
    """Welch's t between arms 0/1 of ANY (arm, value) observation frame —
    one row (n0, n1, t_micro, df_micro, significant, headroom_ok);
    formula, guard, and determinism notes in `q_abtest_welch_ttest`."""
    vals = values.where(
        F.col(value_col).isNotNull() & F.col(variant_col).isNotNull()
    ).select(
        F.col(variant_col).cast("int").alias("arm"),
        F.expr(f"cast(floor({value_col} * 1000 + 0.5) as bigint)").alias("v"),
    )
    arms = vals.groupBy("arm").agg(
        F.count("*").alias("n_j"),
        F.sum("v").alias("s_j"),
        F.expr("try_sum(try_multiply(v, v))").alias("ss_j"),
        F.max(F.abs("v")).alias("max_v_j"),
    )
    g = arms.agg(
        F.sum("n_j").alias("n_total"),
        F.min(F.when(F.col("arm") == 0, F.col("n_j"))).alias("n0"),
        F.min(F.when(F.col("arm") == 0, F.col("s_j"))).alias("s0"),
        F.min(F.when(F.col("arm") == 0, F.col("ss_j"))).alias("ss0"),
        F.min(F.when(F.col("arm") == 1, F.col("n_j"))).alias("n1"),
        F.min(F.when(F.col("arm") == 1, F.col("s_j"))).alias("s1"),
        F.min(F.when(F.col("arm") == 1, F.col("ss_j"))).alias("ss1"),
        F.max("max_v_j").alias("max_v"),
    )
    ok = F.expr(
        "case when n_total is null or n_total = 0 then true else"
        " log2(cast(n_total as double))"
        " + 2.0 * log2(cast(greatest(max_v, 2) as double)) < 62.0 end"
    )
    # per-arm sample variance and the standard error, shared sub-exprs
    # written IDENTICALLY in the oracle
    v0 = (
        "((cast(ss0 as double) - cast(s0 as double) * cast(s0 as double)"
        " / cast(n0 as double)) / (cast(n0 as double) - 1.0))"
    )
    v1 = (
        "((cast(ss1 as double) - cast(s1 as double) * cast(s1 as double)"
        " / cast(n1 as double)) / (cast(n1 as double) - 1.0))"
    )
    se2 = f"({v0} / cast(n0 as double) + {v1} / cast(n1 as double))"
    t = F.expr(
        f"case when n0 > 1 and n1 > 1 and {se2} > 0.0 then"
        f" (cast(s1 as double) / cast(n1 as double)"
        f"  - cast(s0 as double) / cast(n0 as double)) / sqrt({se2}) end"
    )
    df = F.expr(
        f"case when n0 > 1 and n1 > 1 and {se2} > 0.0 then"
        f" ({se2} * {se2})"
        f" / (({v0} / cast(n0 as double)) * ({v0} / cast(n0 as double))"
        f"    / (cast(n0 as double) - 1.0)"
        f"    + ({v1} / cast(n1 as double)) * ({v1} / cast(n1 as double))"
        f"    / (cast(n1 as double) - 1.0)) end"
    )
    tm = F.when(ok, F.floor(t * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return g.select(
        "n0",
        "n1",
        tm.alias("t_micro"),
        F.when(ok, F.floor(df * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias(
            "df_micro"
        ),
        F.coalesce(F.abs(tm) >= ABTEST_Z_CRIT_MICRO, F.lit(False)).alias(
            "significant"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["abtest_welch_ttest"] = q_abtest_welch_ttest
ORACLES["abtest_welch_ttest"] = f"""
    WITH vals AS (
        SELECT (user_id % 2)::INT AS arm,
               floor(value * 1000 + 0.5)::BIGINT AS v
        FROM events WHERE event_type = 'purchase'
          AND value IS NOT NULL AND user_id IS NOT NULL
    ), arms AS (
        SELECT arm, count(*)::BIGINT AS n_j, sum(v)::BIGINT AS s_j,
               sum(v::HUGEINT * v) AS ss_j, max(abs(v))::BIGINT AS max_v_j
        FROM vals GROUP BY arm
    ), g AS (
        SELECT sum(n_j)::BIGINT AS n_total,
               min(CASE WHEN arm = 0 THEN n_j END)::BIGINT AS n0,
               min(CASE WHEN arm = 0 THEN s_j END)::BIGINT AS s0,
               min(CASE WHEN arm = 0 THEN ss_j END) AS ss0,
               min(CASE WHEN arm = 1 THEN n_j END)::BIGINT AS n1,
               min(CASE WHEN arm = 1 THEN s_j END)::BIGINT AS s1,
               min(CASE WHEN arm = 1 THEN ss_j END) AS ss1,
               max(max_v_j)::BIGINT AS max_v
        FROM arms
    ), ok_t AS (
        SELECT *, CASE WHEN n_total IS NULL OR n_total = 0 THEN true ELSE
                  log2(n_total::DOUBLE)
                  + 2.0 * log2(greatest(max_v, 2)::DOUBLE) < 62.0
                  END AS headroom_ok
        FROM g
    ), stat AS (
        SELECT *,
           CASE WHEN n0 > 1 AND n1 > 1 AND
                (((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0)) / n0::DOUBLE
                 + ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                    / (n1::DOUBLE - 1.0)) / n1::DOUBLE) > 0.0 THEN
             (s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE)
             / sqrt(((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                     / (n0::DOUBLE - 1.0)) / n0::DOUBLE
                    + ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                       / (n1::DOUBLE - 1.0)) / n1::DOUBLE) END AS tv,
           CASE WHEN n0 > 1 AND n1 > 1 AND
                (((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0)) / n0::DOUBLE
                 + ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                    / (n1::DOUBLE - 1.0)) / n1::DOUBLE) > 0.0 THEN
             ((((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                / (n0::DOUBLE - 1.0)) / n0::DOUBLE
               + ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                  / (n1::DOUBLE - 1.0)) / n1::DOUBLE)
              * (((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0)) / n0::DOUBLE
                 + ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                    / (n1::DOUBLE - 1.0)) / n1::DOUBLE))
             / ((((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0)) / n0::DOUBLE)
                * (((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                    / (n0::DOUBLE - 1.0)) / n0::DOUBLE)
                / (n0::DOUBLE - 1.0)
                + (((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                    / (n1::DOUBLE - 1.0)) / n1::DOUBLE)
                * (((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                    / (n1::DOUBLE - 1.0)) / n1::DOUBLE)
                / (n1::DOUBLE - 1.0)) END AS dfv
        FROM ok_t
    )
    SELECT n0, n1,
           CASE WHEN headroom_ok THEN
             floor(tv * 1000000.0 + 0.5)::BIGINT END AS t_micro,
           CASE WHEN headroom_ok THEN
             floor(dfv * 1000000.0 + 0.5)::BIGINT END AS df_micro,
           coalesce(abs(CASE WHEN headroom_ok THEN
                          floor(tv * 1000000.0 + 0.5)::BIGINT END)
                    >= {ABTEST_Z_CRIT_MICRO}, FALSE) AS significant,
           headroom_ok
    FROM stat
"""


#: chi-square(1 df) 95th percentile in integer micros — the SRM alarm bar
SRM_CHI_CRIT_MICRO = 3_841_459


def q_abtest_srm(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al. 2019's most-cited
    experiment-quality guardrail): chi-square goodness-of-fit of the
    observed arm sizes against the designed 50/50 split. An experiment
    with SRM is invalid BEFORE any metric is read — randomization or
    logging is broken — so this runs ahead of every other readout in the
    battery.

    With equal expected sizes the 1-df statistic collapses to
    (n0 - n1)^2 / (n0 + n1) — exact integers into one fixed double
    expression, floored to micros; the alarm compares against the
    integer chi-square(1) 95% critical value. Closed-form int64 bound:
    (n0-n1)^2 evaluates in doubles (exact to 2^26 imbalance, far past
    any alarm-worthy delta), nothing else can overflow.

    Scale shape: one user-level aggregate, one 2-row fold."""
    ev = load(spark, sf, "events")
    users = ev.where(F.col("user_id").isNotNull()).select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "user_id"
    ).distinct()
    return srm_check(users)


def srm_check(
    assignments: DataFrame, *, variant_col: str = "arm"
) -> DataFrame:
    """SRM chi-square for ANY unit-level frame with a 0/1 arm column —
    one row (n0, n1, chi2_micro, srm_detected); see `q_abtest_srm`."""
    g = assignments.groupBy().agg(
        F.sum(F.when(F.col(variant_col) == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col(variant_col) == 1, 1).otherwise(0)).alias("n1"),
    )
    chi = F.expr(
        "case when n0 + n1 > 0 then"
        " (cast(n0 as double) - cast(n1 as double))"
        " * (cast(n0 as double) - cast(n1 as double))"
        " / cast(n0 + n1 as double) end"
    )
    cm = F.floor(chi * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return g.select(
        "n0",
        "n1",
        cm.alias("chi2_micro"),
        F.coalesce(cm >= SRM_CHI_CRIT_MICRO, F.lit(False)).alias("srm_detected"),
    )


QUERIES["abtest_srm"] = q_abtest_srm
ORACLES["abtest_srm"] = f"""
    WITH users AS (
        SELECT DISTINCT (user_id % 2)::INT AS arm, user_id
        FROM events WHERE user_id IS NOT NULL
    ), g AS (
        SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
        FROM users
    )
    SELECT n0, n1,
           floor(CASE WHEN n0 + n1 > 0 THEN
                 (n0::DOUBLE - n1::DOUBLE) * (n0::DOUBLE - n1::DOUBLE)
                 / (n0 + n1)::DOUBLE END * 1000000.0 + 0.5)::BIGINT
               AS chi2_micro,
           coalesce(floor(CASE WHEN n0 + n1 > 0 THEN
                 (n0::DOUBLE - n1::DOUBLE) * (n0::DOUBLE - n1::DOUBLE)
                 / (n0 + n1)::DOUBLE END * 1000000.0 + 0.5)::BIGINT
               >= {SRM_CHI_CRIT_MICRO}, FALSE) AS srm_detected
    FROM g
"""


# --- r13: Bayesian A/B conversion comparison ---------------------------------


def q_abtest_bayes_beta(spark: SparkSession, sf: str) -> DataFrame:
    """Bayesian two-arm conversion comparison with Beta(1,1) priors
    (Thompson-sampling's posterior, reported instead of sampled): per-arm
    posterior mean conversion and P(B beats A) — the decision-facing
    companion to the frequentist battery (z/chi-square report evidence
    AGAINST the null; this reports the probability a stakeholder actually
    asks for). Completes the experiment battery's fourth face:
    frequentist mean/rank/proportion tests + Bayesian posterior.

    Math: posterior_j = Beta(1 + conv_j, 1 + n_j - conv_j). P(B>A) uses
    the moment-matched normal approximation of each posterior and the
    logistic approximation of the normal CDF (Phi(x) ~ 1/(1+exp(-1.702x)),
    |err| < 0.0095 — documented; exact at the corpus-scale n where the
    posteriors are near-normal anyway). Everything is a fixed IEEE double
    expression over four exact integers (the proportion_ztest discipline),
    floored once to micros; the single transcendental (exp) follows the
    psi/ln house precedent. Priors make every denominator >= 2, so there
    is NO degenerate case: empty arms report the prior (mean 0.5).

    Scale shape: one shuffle to per-user conversion flags, one 1-row fold
    (identical to q_abtest_proportion_ztest)."""
    events = load(spark, sf, "events")
    users = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    return bayes_beta(users)


def bayes_beta(
    assignments: DataFrame,
    *,
    variant_col: str = "arm",
    converted_col: str = "converted",
) -> DataFrame:
    """Beta(1,1)-posterior comparison over ANY unit-level frame with a 0/1
    arm column and a 0/1 conversion column — one row (n_a, conv_a, n_b,
    conv_b, post_mean_a_micro, post_mean_b_micro, prob_b_beats_a_micro),
    arm 0 = A. Math and determinism notes in `q_abtest_bayes_beta`."""
    g = assignments.where(
        F.col(variant_col).isNotNull() & F.col(converted_col).isNotNull()
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col(variant_col) == 0, 1).otherwise(0)), F.lit(0)
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col(variant_col) == 0, F.col(converted_col)).otherwise(0)),
            F.lit(0),
        ).alias("conv_a"),
        F.coalesce(
            F.sum(F.when(F.col(variant_col) == 1, 1).otherwise(0)), F.lit(0)
        ).alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col(variant_col) == 1, F.col(converted_col)).otherwise(0)),
            F.lit(0),
        ).alias("conv_b"),
    )
    # shared sub-expressions, written IDENTICALLY in the oracle
    mu = lambda c, n: (  # noqa: E731
        f"((1.0 + cast({c} as double)) / (2.0 + cast({n} as double)))"
    )
    var = lambda c, n: (  # noqa: E731
        f"(((1.0 + cast({c} as double))"
        f" * (1.0 + cast({n} as double) - cast({c} as double)))"
        f" / (((2.0 + cast({n} as double)) * (2.0 + cast({n} as double)))"
        f" * (3.0 + cast({n} as double))))"
    )
    zexpr = (
        f"(({mu('conv_b', 'n_b')} - {mu('conv_a', 'n_a')})"
        f" / sqrt({var('conv_a', 'n_a')} + {var('conv_b', 'n_b')}))"
    )
    return g.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr(
            f"cast(floor({mu('conv_a', 'n_a')} * 1000000.0 + 0.5) as bigint)"
        ).alias("post_mean_a_micro"),
        F.expr(
            f"cast(floor({mu('conv_b', 'n_b')} * 1000000.0 + 0.5) as bigint)"
        ).alias("post_mean_b_micro"),
        F.expr(
            f"cast(floor(1.0 / (1.0 + exp(-1.702 * {zexpr}))"
            f" * 1000000.0 + 0.5) as bigint)"
        ).alias("prob_b_beats_a_micro"),
    )


QUERIES["abtest_bayes_beta"] = q_abtest_bayes_beta


def _bayes_beta_oracle() -> str:
    mu = lambda c, n: (  # noqa: E731
        f"((1.0 + cast({c} as double)) / (2.0 + cast({n} as double)))"
    )
    var = lambda c, n: (  # noqa: E731
        f"(((1.0 + cast({c} as double))"
        f" * (1.0 + cast({n} as double) - cast({c} as double)))"
        f" / (((2.0 + cast({n} as double)) * (2.0 + cast({n} as double)))"
        f" * (3.0 + cast({n} as double))))"
    )
    zexpr = (
        f"(({mu('conv_b', 'n_b')} - {mu('conv_a', 'n_a')})"
        f" / sqrt({var('conv_a', 'n_a')} + {var('conv_b', 'n_b')}))"
    )
    return f"""
        WITH users AS (
            SELECT user_id % 2 AS arm,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id
        ), g AS (
            SELECT coalesce(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0)::BIGINT AS n_a,
                   coalesce(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END), 0)::BIGINT AS conv_a,
                   coalesce(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_b,
                   coalesce(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END), 0)::BIGINT AS conv_b
            FROM users
        )
        SELECT n_a, conv_a, n_b, conv_b,
               floor({mu('conv_a', 'n_a')} * 1000000.0 + 0.5)::BIGINT
                   AS post_mean_a_micro,
               floor({mu('conv_b', 'n_b')} * 1000000.0 + 0.5)::BIGINT
                   AS post_mean_b_micro,
               floor(1.0 / (1.0 + exp(-1.702 * {zexpr}))
                     * 1000000.0 + 0.5)::BIGINT AS prob_b_beats_a_micro
        FROM g
    """


ORACLES["abtest_bayes_beta"] = _bayes_beta_oracle()


# --- r13: Wilcoxon signed-rank paired test -----------------------------------


def q_stats_wilcoxon_signed_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) on each user's paired
    purchase-spend change between the month's first half (day <= 15) and
    second half (day >= 16) — the PAIRED companion to abtest_mann_whitney
    (which compares two independent arms): did the same population's
    spend distribution shift, each user serving as their own control?

    Determinism discipline (the mann_whitney template): per-user half
    sums in exact milli cents, complete-case pairs (a user must purchase
    in BOTH halves), zero diffs dropped per the classic procedure;
    |diff| ranks come from the DISTINCT-value table with doubled average
    ranks ((2*cum + t + 1) per tied block) so W+ stays integer; the tie
    term and all counts are exact integers under the SAME pre-aggregation
    headroom guard as mann_whitney (2*log2(t_max) + log2(n) < 62 and
    1 + 2*log2(n) < 62, tripped -> NULL LOUDLY); only the final z is a
    fixed IEEE expression — z = (2W+ - n(n+1)/2) / sqrt(n(n+1)(2n+1)/6
    - tie/12), the doubled-rank form of the normal approximation with
    tie correction — floored once to micros with the integer
    critical-value compare.

    Scale shape: one shuffle to per-user half sums, one combine-friendly
    aggregate to the distinct-|diff| table, one running-sum window over
    that aggregate, one 1-row fold. Nothing event-sized is sorted."""
    events = load(spark, sf, "events")
    per_user = (
        events.where(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.dayofmonth("ts") <= 15,
                    F.expr("cast(floor(value * 1000 + 0.5) as bigint)"),
                )
            ).alias("s1"),
            F.sum(
                F.when(
                    F.dayofmonth("ts") >= 16,
                    F.expr("cast(floor(value * 1000 + 0.5) as bigint)"),
                )
            ).alias("s2"),
        )
        .where(F.col("s1").isNotNull() & F.col("s2").isNotNull())
    )
    return wilcoxon_signed_rank(
        per_user.select("user_id", "s1", "s2"),
        before_col="s1",
        after_col="s2",
    )


def wilcoxon_signed_rank(
    pairs: DataFrame,
    *,
    before_col: str = "before",
    after_col: str = "after",
) -> DataFrame:
    """Wilcoxon signed-rank z over ANY paired-observation frame with
    integer-scaled before/after columns — one row (n_pairs, n_eff,
    w2_pos, tie_t, z_micro, significant, headroom_ok). Math, tie
    handling, guard, and plan notes in `q_stats_wilcoxon_signed_rank`."""
    diffs = pairs.where(
        F.col(before_col).isNotNull() & F.col(after_col).isNotNull()
    ).select((F.col(after_col) - F.col(before_col)).alias("d"))
    n_pairs_df = diffs.agg(F.count("*").alias("n_pairs"))
    vals = (
        diffs.where(F.col("d") != 0)
        .select(F.abs("d").alias("v"), (F.col("d") > 0).cast("int").alias("is_pos"))
        .groupBy("v")
        .agg(F.count("*").alias("t"), F.sum("is_pos").alias("ta"))
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.withColumn("cum", F.coalesce(F.sum("t").over(w_cum), F.lit(0)))
    g = ranked.agg(
        F.sum("t").alias("n_eff"),
        F.expr("try_sum(try_multiply(ta, 2 * cum + t + 1))").alias("w2_pos"),
        F.expr(
            "try_sum(try_subtract(try_multiply(try_multiply(t, t), t), t))"
        ).alias("tie_t"),
        F.max("t").alias("t_max"),
    ).crossJoin(F.broadcast(n_pairs_df))
    ok = F.expr(
        "case when n_eff is null or n_eff = 0 then true else"
        " 2.0 * log2(cast(t_max as double)) + log2(cast(n_eff as double)) < 62.0"
        " and 1.0 + 2.0 * log2(cast(n_eff as double)) < 62.0 end"
    )
    # variance of 2W+ computed in doubles from exact integers (n^3 would
    # overflow int64 at n ~ 2e6 ranked pairs); identical text in the oracle
    var4 = (
        "((cast(n_eff as double) * (cast(n_eff as double) + 1.0)"
        " * (2.0 * cast(n_eff as double) + 1.0)) / 6.0"
        " - cast(tie_t as double) / 12.0)"
    )
    z = F.expr(
        f"case when n_eff > 0 and {var4} > 0.0 then"
        f" (cast(w2_pos as double)"
        f"  - cast(n_eff as double) * (cast(n_eff as double) + 1.0) / 2.0)"
        f" / sqrt({var4}) end"
    )
    zm = F.when(ok, F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return g.select(
        "n_pairs",
        "n_eff",
        F.when(ok, F.col("w2_pos")).alias("w2_pos"),
        F.when(ok, F.col("tie_t")).alias("tie_t"),
        zm.alias("z_micro"),
        F.coalesce(F.abs(zm) >= ABTEST_Z_CRIT_MICRO, F.lit(False)).alias(
            "significant"
        ),
        ok.alias("headroom_ok"),
    )


QUERIES["stats_wilcoxon_signed_rank"] = q_stats_wilcoxon_signed_rank
ORACLES["stats_wilcoxon_signed_rank"] = f"""
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN date_part('day', ts) <= 15
                   THEN floor(value * 1000 + 0.5)::BIGINT END) AS s1,
               sum(CASE WHEN date_part('day', ts) >= 16
                   THEN floor(value * 1000 + 0.5)::BIGINT END) AS s2
        FROM events
        WHERE event_type = 'purchase'
          AND value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id
    ), pairs AS (
        SELECT s2 - s1 AS d FROM per_user
        WHERE s1 IS NOT NULL AND s2 IS NOT NULL
    ), np AS (
        SELECT count(*)::BIGINT AS n_pairs FROM pairs
    ), vals AS (
        SELECT abs(d) AS v, count(*)::BIGINT AS t,
               sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS ta
        FROM pairs WHERE d <> 0 GROUP BY 1
    ), ranked AS (
        SELECT v, t, ta,
               coalesce(sum(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
        FROM vals
    ), g AS (
        -- raw sums stay HUGEINT; ::BIGINT casts only under the guard
        SELECT sum(t) AS n_eff_h,
               sum(ta * (2 * cum + t + 1)) AS w2_h,
               sum(t * t * t - t) AS tie_h,
               max(t)::BIGINT AS t_max
        FROM ranked
    ), u AS (
        SELECT (SELECT n_pairs FROM np) AS n_pairs,
               n_eff_h::BIGINT AS n_eff,
               case when n_eff_h is null or n_eff_h = 0 then true else
                    2.0 * log2(cast(t_max as double))
                      + log2(cast(n_eff_h as double)) < 62.0
                    and 1.0 + 2.0 * log2(cast(n_eff_h as double)) < 62.0
               end AS headroom_ok,
               case when (n_eff_h is null or n_eff_h = 0) or (
                    2.0 * log2(cast(t_max as double))
                      + log2(cast(n_eff_h as double)) < 62.0
                    and 1.0 + 2.0 * log2(cast(n_eff_h as double)) < 62.0)
               then w2_h::BIGINT end AS w2_pos,
               case when (n_eff_h is null or n_eff_h = 0) or (
                    2.0 * log2(cast(t_max as double))
                      + log2(cast(n_eff_h as double)) < 62.0
                    and 1.0 + 2.0 * log2(cast(n_eff_h as double)) < 62.0)
               then tie_h::BIGINT end AS tie_t
        FROM g
    ), z AS (
        SELECT *,
               case when n_eff > 0 and
                    ((cast(n_eff as double) * (cast(n_eff as double) + 1.0)
                      * (2.0 * cast(n_eff as double) + 1.0)) / 6.0
                     - cast(tie_t as double) / 12.0) > 0.0 then
                    (cast(w2_pos as double)
                     - cast(n_eff as double) * (cast(n_eff as double) + 1.0) / 2.0)
                    / sqrt((cast(n_eff as double) * (cast(n_eff as double) + 1.0)
                            * (2.0 * cast(n_eff as double) + 1.0)) / 6.0
                           - cast(tie_t as double) / 12.0) end AS zv
        FROM u
    )
    SELECT n_pairs, n_eff, w2_pos, tie_t,
           floor(zv * 1000000.0 + 0.5)::BIGINT AS z_micro,
           coalesce(abs(floor(zv * 1000000.0 + 0.5)::BIGINT)
                    >= {ABTEST_Z_CRIT_MICRO}, FALSE) AS significant,
           headroom_ok
    FROM z
"""
