package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-sequence analytics over the `events` stream table: funnel
  * conversion, per-event rolling time windows, and per-entity outlier
  * detection.
  *
  * Everything shuffles on `user_id` only — the natural key a clickstream
  * is already bucketed by at scale — and every float that crosses the
  * oracle boundary is first made EXACT (µs timestamps, integer cents), so
  * no aggregation-order ulp noise can flip a comparison.
  */
object SequenceQueries {

  /** `value` has 2 decimal digits — exact in integer cents. Summing longs
    * is order-independent, unlike summing doubles, which is what makes the
    * rolling/anomaly aggregates hash-reproducible on both engines. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Funnel: earliest view → first click strictly after it → first
    // purchase strictly after that, per user. Three co-partitioned
    // aggregations chained by joins on user_id — each stage is a plain
    // hash-agg + equi-join on the SAME key, so at scale all three reuse
    // one hash partitioning of the events relation (no per-user sorted
    // array state, which a power user with 10⁷ events would blow up).
    "q64_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") > col("view_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") > col("click_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
          (lit(1) + when(col("click_us").isNotNull, 1).otherwise(0)
            + when(col("purchase_us").isNotNull, 1).otherwise(0)).as("stage"))
    }),

    // SLIDING-WINDOW heavy hitters — q97's Misra–Gries PROOF pattern per
    // 24 h window (6 h slide): the summary CONTENT is execution-order-
    // dependent by the algorithm, so the query emits what is INVARIANT —
    // each window's truly-heavy items (exact cnt·(k+1) > n_w, k = 4, so
    // the 5-type table genuinely overflows and decrements) with
    // `in_summary` (guaranteed true by the n/(k+1) undercount bound) and
    // a per-window `bounds_ok` over every summary entry. The oracle
    // emits the exact heavy set with literal TRUEs: any violated
    // guarantee hash-mismatches. One explode + three window-keyed aggs
    // over the persisted exploded relation.
    "q245_window_heavy_hitters" -> ((s, d) => {
      val S = 21600000000L
      val k = 4
      val ev = Tables.events(s, d)
        .select(unix_micros(col("ts")).as("us"), col("event_type"))
        .select(explode(sequence(lit(0), lit(3))).as("i"), col("us"), col("event_type"))
        .select(expr(s"(us div $S - i) * $S").as("ws_us"), col("event_type"))
        .persist() // totals + exact counts + MG summaries (3 consumers)
      val tot = ev.groupBy(col("ws_us")).agg(count(lit(1)).as("n"))
      val exact = ev.groupBy(col("ws_us"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val mg = ev.groupBy(col("ws_us"))
        .agg(graft.functions.MisraGriesAggregate.summary(col("event_type"), k).as("s"))
        .select(col("ws_us"), explode(col("s")).as("e"))
        .select(col("ws_us"), col("e.key").as("event_type"), col("e.est").as("est"))
      val sound = mg.join(exact, Seq("ws_us", "event_type")).join(tot, "ws_us")
        .groupBy(col("ws_us"))
        .agg(bool_and(col("est") <= col("cnt") &&
          (col("cnt") - col("est")) * (k + 1) <= col("n")).as("bounds_ok"))
      exact.join(tot, "ws_us")
        .filter(col("cnt") * (k + 1) > col("n"))
        .join(mg.select(col("ws_us"), col("event_type"), lit(true).as("in_summary")),
          Seq("ws_us", "event_type"), "left")
        .join(sound, "ws_us")
        .select(col("ws_us"), col("event_type"), col("cnt"),
          coalesce(col("in_summary"), lit(false)).as("in_summary"), col("bounds_ok"))
    }),

    // SLIDING-WINDOW ranked top-k payloads — the exact ranked dual of
    // q245's Misra–Gries counts: per 24 h window (6 h slide) the k most
    // active users WITH their exact activity counts, rank included.
    // Shape at scale: per-(window, user) count is one hash agg; the
    // per-window ranking rides TopKByScore so the second shuffle carries
    // k rows per window — NEVER a row_number window sort over each
    // window's full user set (window-free plan spec-asserted, the q230
    // lesson). Count scores are exact in double (counts << 2^53); ties
    // break on the smaller user_id — the aggregate's payload-ASC
    // contract, mirrored by the oracle's ORDER BY cnt DESC, user_id.
    // Streaming note: exact ranked top-k per window needs final counts
    // (two stacked stateful aggs — illegal in append mode); the
    // approximate dual is q245's MG summary.
    "q247_window_top_users" -> ((s, d) => {
      val S = 21600000000L
      val k = 5
      val cnts = Tables.events(s, d)
        .select(unix_micros(col("ts")).as("us"), col("user_id"))
        .select(explode(sequence(lit(0), lit(3))).as("i"), col("us"), col("user_id"))
        .select(expr(s"(us div $S - i) * $S").as("ws_us"), col("user_id"))
        .groupBy(col("ws_us"), col("user_id")).agg(count(lit(1)).as("cnt"))
      cnts.groupBy(col("ws_us"))
        .agg(graft.functions.TopKAggregate
          .topK(col("cnt").cast("double"), col("user_id"), k).as("top"))
        .select(col("ws_us"), posexplode(col("top")))
        .select(col("ws_us"), (col("pos") + 1).cast("long").as("rank"),
          col("col.payload").as("user_id"),
          col("col.score").cast("long").as("cnt"))
    }),

    // MARKOV NEXT-EVENT EVALUATION — q72's transition model actually
    // SCORED: fit argmax(next | prev) on pre-cutoff transitions (cutoff = Jan 23, ~75% of the one-month stream), measure
    // top-1 accuracy on post-cutoff ones (a temporal split, the q204
    // discipline — never random rows from the same sessions). The argmax
    // is ONE min-of-struct aggregate ((−cnt, next) lexicographic ⇒ most
    // frequent, ties to the alphabetically first — deterministic, no
    // window); per-prev accuracies + the pooled 'ALL' row in exact bp.
    // Transition extraction is the q72 user-keyed lag window (partitions
    // bounded by one user's history).
    "q264_markov_eval" -> ((s, d) => {
      val cutoff = lit("2024-01-23").cast("date")
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("ts").cast("date").as("day"))
        .select(col("day"), col("event_type").as("next"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .persist() // train fit + test audit
      val pred = pairs.filter(col("day") < cutoff)
        .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("prev"))
        .agg(min(struct((col("cnt") * -1).as("negcnt"), col("next").as("nx")))
          .getField("nx").as("pred"))
      val test = pairs.filter(col("day") >= cutoff)
        .join(pred, Seq("prev"), "inner")
        .withColumn("hit", (col("next") === col("pred")).cast("long"))
        .persist() // per-prev rows + the pooled row
      val perPrev = test.groupBy(col("prev"))
        .agg(count(lit(1)).as("n"), sum(col("hit")).as("correct"))
      val all = test.agg(count(lit(1)).as("n"), sum(col("hit")).as("correct"))
        .withColumn("prev", lit("ALL"))
      perPrev.unionByName(all)
        .withColumn("acc_bp", expr("correct * 10000 div n"))
    }),

    // WINDOWED HISTOGRAM PERCENTILES — p50/p95 of event value per 6 h
    // tumbling window via a fixed 128-bin histogram, the ONLY percentile
    // shape that runs append-legal on a stream (bin assignment stateless,
    // one windowed count agg; `StreamingAggregates.binnedHistogram` is
    // the literal streaming form of this plan and slicing parity is
    // spec-proven). The estimate = lower edge of the bin where the
    // cumulative reaches ceil(q·n/100) — deterministic integer math, so
    // unlike sketch percentiles it hash-checks with NO tolerance; the
    // trade is fixed resolution (bin width 500 cents, a design constant).
    // The rank scan's window partitions hold ≤ 128 rows by construction.
    "q260_window_percentiles" -> ((s, d) => {
      val bins = graft.operators.StreamingAggregates.binnedHistogram(
        Tables.events(s, d), "ts", "value", "6 hours",
        binWidthCents = 500L, nBins = 128, watermark = None)
      graft.operators.StreamingAggregates
        .percentileFromBins(bins, Seq(50, 95), 500L)
    }),

    // OHLC time-series resampling — hourly bars over the event stream:
    // open/close via ONE min/max-of-struct aggregate each ((us, event_id,
    // cents) — event_id is unique, so the lexicographic extreme is the
    // deterministic first/last row; q160's first-touch idiom), high/low/
    // volume as plain integer aggregates. One hash-agg on the hour
    // bucket; no window, no sort — the downsampling shape that turns a
    // 100 TB tick stream into dashboard bars.
    "q242_ohlc_bars" -> ((s, d) => {
      val H = 3600000000L
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(unix_micros(col("ts")).as("us"), col("event_id"),
          cents(col("value")).as("cents"))
        .withColumn("hour_us", expr(s"(us div $H) * $H"))
        .groupBy(col("hour_us"))
        .agg(
          min(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("close_cents"),
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("vol_cents"))
    }),

    // Rolling 1-hour window per event: how many events (and how much
    // value) this user generated in the 3600 s ending at this event.
    // RANGE frame over exact µs — ties are frame-peers on both engines,
    // so ordering within equal timestamps cannot change the result.
    "q65_rolling_window" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), cents(col("value")).as("cents"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("cents")).over(w).as("cents_1h"))
    }),

    // Per-user outlier flag: |x − μ| > 2σ (sample variance), decided in
    // EXACT integer arithmetic — (n·x − S)²·(n−1) > 4·n·(n·Q − S²) is the
    // 2σ test cleared of divisions, so the boolean is bit-reproducible
    // (no sqrt, no float variance whose accumulation order differs across
    // engines). One hash-agg for per-user moments, one equi-join back on
    // user_id. The decision products reach ~n³·max_cents² — past int64 at
    // only ~10³ events/user at these magnitudes — so the COMPARISON runs
    // in decimal(38,0) (Spark) vs HUGEINT/int128 (DuckDB): both exact, no
    // rounding, headroom to ~10⁹ events per user. The int64 moments
    // themselves (n·Q ≤ n²·max²) stay exact far beyond that.
    "q68_anomaly_zscore" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), cents(col("value")).as("cents"))
      val stats = ev.filter(col("cents").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("q"))
      def big(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val dev = big(col("n")) * big(col("cents")) - big(col("s"))
      ev.join(stats, "user_id")
        .filter(col("n") >= 2)
        .select(col("event_id"), col("user_id"), col("cents"), col("n"),
          // portable rounding: engine round()s split at exact .5 decimal
          // boundaries (a 4563.525 mean diverged at sf0.1); floor + IEEE
          // multiply/divide are bit-identical cross-engine
          (floor(col("s").cast("double") / col("n") * 100 + 0.5) / 100).as("mean_cents"),
          (dev * dev * (big(col("n")) - 1) >
            big(lit(4)) * big(col("n")) * (big(col("n")) * big(col("q")) - big(col("s")) * big(col("s"))))
            .as("is_outlier"))
    }),

    // Rolling 7-event median of `value` per user — the robust alternative
    // to q65's rolling mean. Medians don't decompose over window panes, so
    // the frame's values ride a BOUNDED collect (7 longs per row, sorted
    // in-expression) — never a per-group global sort. Fully exact: integer
    // cents, and the even-n midpoint is emitted as median×2 (the SUM of
    // the two bracketing order stats) so no float division ever happens —
    // both engines index the same sorted integer list. (us, event_id) is a
    // total order: frame contents are identical on both engines.
    "q94_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        .rowsBetween(-6, 0)
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), cents(col("value")).as("cents"))
        .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
        .select(col("event_id"), col("user_id"),
          size(col("arr")).as("n_window"),
          // `div` = integer division (`/` on ints resolves to double here)
          (element_at(col("arr"), expr("(size(arr) + 1) div 2").cast("int"))
            + element_at(col("arr"), expr("size(arr) div 2 + 1").cast("int")))
            .as("median_x2_cents"))
    }),

    // SCD2 history build: each user's event_type stream collapsed into
    // type-2 slowly-changing-dimension rows — consecutive runs of one
    // state become [valid_from_us, valid_to_us) validity intervals with a
    // per-user version number and an is_current flag on the open row. The
    // classic change-log → dimension-table transform: a change flag from a
    // null-safe lag compare, a running sum numbering the runs, one
    // hash-agg per run, and a lead() chaining each interval to the next.
    // Both sort-windows and the agg ride ONE user-key partitioning; the
    // (us, event_id) order is total, so run boundaries are deterministic.
    "q95_scd2_history" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val wv = Window.partitionBy(col("user_id")).orderBy(col("ver"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        // change flag: !(lag <=> cur) — null-safe, so the first row (lag
        // NULL) always opens run 1, matching IS DISTINCT FROM in DuckDB
        .withColumn("chg",
          when(!(lag(col("event_type"), 1).over(w) <=> col("event_type")), 1L)
            .otherwise(0L))
        .withColumn("ver",
          sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("ver"), col("event_type").as("state"))
        .agg(min(col("us")).as("valid_from_us"), count(lit(1)).as("n_events"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
        .withColumn("is_current", col("valid_to_us").isNull)
    }),

    // Null imputation — the standard cleaning pass before model features:
    // missing `value`s fill with the USER's mean (computed over non-null
    // rows), falling back to the global mean for all-null users. Means are
    // integer-cent ratios under the portable floor-round, so the imputed
    // value is bit-identical cross-engine; one user-key hash-agg + one
    // broadcast scalar, joined back on the same key.
    "q106_imputation" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), cents(col("value")).as("cents"))
      val userMean = ev.filter(col("cents").isNotNull)
        .groupBy(col("user_id"))
        .agg(floor(sum(col("cents")).cast("double") / count(lit(1)) + 0.5)
          .cast("long").as("user_mean_cents"))
      val globalMean = ev.filter(col("cents").isNotNull)
        .agg(floor(sum(col("cents")).cast("double") / count(lit(1)) + 0.5)
          .cast("long").as("global_mean_cents"))
      ev.join(userMean, Seq("user_id"), "left")
        .crossJoin(broadcast(globalMean))
        .select(col("event_id"), col("user_id"),
          coalesce(col("cents"), col("user_mean_cents"), col("global_mean_cents"))
            .as("cents_filled"),
          col("cents").isNull.as("was_imputed"))
    }),

    // Exponentially-decayed activity score (half-life = 1 day) over the
    // trailing 30 days, EXACT: the weight for a day aged `a` (0 = the
    // window's oldest day) is the integer 1 << a — recency weighting as
    // bit shifts, because float pow() is not cross-engine-reproducible.
    // The score is the exact integer Σ n_day · 2^age (≤ ~2^41 here, far
    // inside int64); dividing by 2^29 would yield the conventional
    // decayed count, but the NUMERATOR is what's order-free and portable.
    // One (user, day) agg + a broadcast max-day scalar + one user agg.
    "q110_decayed_activity" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts").cast("date").as("day"))
      val bounds = ev.agg(max(col("day")).as("dmax"))
      ev.crossJoin(broadcast(bounds))
        .filter(datediff(col("dmax"), col("day")) < 30)
        .groupBy(col("user_id"), col("day"), col("dmax"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          // the Scala shiftleft() overload takes a literal shift; the SQL
          // form accepts a column one
          expr("n * shiftleft(CAST(1 AS BIGINT), CAST(29 - datediff(dmax, day) AS INT))")
            .as("w"), col("n"))
        .groupBy(col("user_id"))
        .agg(sum(col("w")).as("decay_score_x2e29"),
          sum(col("n")).as("n_events_30d"),
          count(lit(1)).as("n_active_days"))
        .orderBy(desc("decay_score_x2e29"), asc("user_id")).limit(20)
    }),

    // Key-skew audit — the diagnostic you run BEFORE picking a shuffle
    // key at scale: per-key event counts reduced to one row of skew
    // measures (max, top-decile share, Gini), all exact integers. The
    // ranking window runs over the per-KEY relation (already reduced from
    // rows to keys by the first hash-agg), and Gini's Σ(2·rank−n−1)·cnt
    // needs every key's rank — a global sort of |keys| rows, audit-class
    // by nature (operators/PrefixSum is the distributed-rank path when
    // |keys| itself is huge). Shares are integer-div micro-ratios, so the
    // single output row hash-compares exactly.
    "q118_key_skew" -> ((s, d) => {
      val cnt = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      // ascending rank, deterministic tiebreak: Gini wants c_(1) <= ... <= c_(n)
      val ranked = cnt.withColumn("rk",
        row_number().over(Window.orderBy(col("cnt"), col("user_id"))))
      val tot = cnt.agg(count(lit(1)).as("n_all"))
      ranked.crossJoin(broadcast(tot))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_events"),
          max(col("cnt")).as("max_cnt"),
          sum(expr("CASE WHEN rk > n_all - (n_all + 9) div 10 THEN cnt ELSE 0 END"))
            .as("top_decile_cnt"),
          sum(expr("(2 * rk - n_all - 1) * cnt")).as("gini_num"))
        .select(col("n_keys"), col("n_events"), col("max_cnt"),
          expr("top_decile_cnt * 1000000 div n_events").as("top_decile_micro"),
          expr("gini_num * 1000000 div (n_keys * n_events)").as("gini_micro"))
    }),

    // Calendar seasonality profile: events bucketed by (day-of-week,
    // hour-of-day), value summed in exact cents. Both axes are PURE
    // INTEGER arithmetic on the epoch-µs value (day 0 = Thursday ⇒
    // Monday-based dow = (epoch_day+3) mod 7) — no engine/locale calendar
    // functions whose week conventions could disagree. One map-side
    // projection + one 168-group hash-agg: the minimal at-scale shape.
    // STL-lite time-series decomposition — daily revenue split into
    // trend + day-of-week seasonal + residual, ALL EXACT: trend is the
    // centered 7-day rolling median (median×2 bracketing-order-stat
    // trick ⇒ halves, exactly representable), seasonal the per-dow
    // median of detrended values (quarters, exact), residual the
    // difference. The only global window runs over the DAILY series —
    // |days| rows after aggregation, inherently driver-scale at any SF.
    "q136_stl_decompose" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("cents"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
      def med(arr: org.apache.spark.sql.Column) = {
        val n = size(arr)
        (element_at(arr, ((n + 1) / 2).cast("int")).cast("double") +
          element_at(arr, (n / 2 + 1).cast("int")).cast("double")) / 2
      }
      val t = daily
        .withColumn("trend", med(sort_array(collect_list(col("cents")).over(w7))))
        .withColumn("detr", col("cents").cast("double") - col("trend"))
        .withColumn("dow",
          (datediff(col("day"), lit("1970-01-01")) + 3) % 7)
      val seas = t.groupBy(col("dow"))
        .agg(med(sort_array(collect_list(col("detr")))).as("seasonal"))
      t.join(broadcast(seas), "dow")
        .select(col("day"), col("cents"), col("trend"), col("dow"), col("seasonal"),
          (col("detr") - col("seasonal")).as("residual"))
    }),

    // Session journey mining — the top event-type paths (consecutive
    // repeats collapsed) by session count: which flows actually happen.
    // One keyed sort window (lag collapse) + an ordered list aggregation
    // per session + a journey-string count — never a cross join, and the
    // journey strings are bounded by the collapsed session length.
    "q137_top_journeys" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      ev.groupBy(col("user_id"), col("day"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          r => r.getField("event_type")), ">").as("journey"))
        .groupBy(col("journey")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("journey")).limit(10)
    }),

    // Event debounce — telemetry dedup by burst: events of one
    // (user, type) closer than 24 h to their predecessor collapse into
    // the burst of that predecessor (classic retry/duplicate-beacon
    // suppression). Island numbering: a lag gap opens a burst, a running
    // sum labels it — ONE keyed sort window, no self-join; the per-type
    // rollup reports how much the debounce suppressed.
    "q132_debounce" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      val gapUs = lit(86400000000L)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("new_burst",
          when(col("us") - lag(col("us"), 1).over(w) <= gapUs, 0L).otherwise(1L))
        .withColumn("burst", sum(col("new_burst")).over(w))
        .groupBy(col("user_id"), col("event_type"), col("burst"))
        .agg(count(lit(1)).as("burst_len"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_bursts"),
          sum(col("burst_len")).as("n_events"),
          (sum(col("burst_len")) - count(lit(1))).as("n_suppressed"),
          max(col("burst_len")).as("max_burst"))
    }),

    // Funnel latency distribution — q64's view→click→purchase funnel
    // composed with the bounded-memory percentile loop: time-to-convert
    // (first view to first qualifying purchase) for fully-converted
    // users, summarized as p50/p90/p99. Gaps are exact integer µs; the
    // single-group HistogramPercentile narrowing never buffers the
    // cohort in one executor (q59's scale argument, applied to a funnel
    // metric every growth dashboard ships).
    "q127_funnel_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") > col("view_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") > col("click_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
      val lat = p.join(v, "user_id")
        .select(lit("all").as("g"),
          (col("purchase_us") - col("view_us")).cast("double").as("lat_us"))
      graft.operators.HistogramPercentile
        .quantiles(lat, "g", "lat_us", Seq(0.5, 0.9, 0.99))
        .join(lat.groupBy(col("g")).agg(count(lit(1)).as("n_converted")), "g")
        .select(col("n_converted"),
          graft.functions.PortableMath.roundPortable(col("q0") / 1000000L, 3).as("p50_s"),
          graft.functions.PortableMath.roundPortable(col("q1") / 1000000L, 3).as("p90_s"),
          graft.functions.PortableMath.roundPortable(col("q2") / 1000000L, 3).as("p99_s"))
    }),

    // Sequential containment patterns — which event type PRECEDES which
    // within a session (user-day), counted by supporting session. Unlike
    // q72's adjacent-transition Markov counts, containment asks "some a
    // before some b anywhere in the session": a ≺ b iff the first
    // occurrence of a sorts before the last occurrence of b under the
    // total (ts, event_id) order, so one (session, type) rollup of
    // first/last positions replaces the naive O(L²) event self-join.
    // The pair join is per-session keyed and bounded by (#distinct
    // types)² ≤ 25 per session regardless of session length.
    "q123_seq_patterns" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), col("ts"), col("event_id"))
        .withColumn("ord", row_number().over(w))
      val ty = ev.groupBy(col("user_id"), col("day"), col("event_type"))
        .agg(min(col("ord")).as("mn"), max(col("ord")).as("mx"))
      ty.as("a")
        .join(ty.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
            col("a.event_type") =!= col("b.event_type") && col("a.mn") < col("b.mx"))
        .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
        .agg(count(lit(1)).as("n_sessions"))
    }),

    // Semi-structured shredding: the events `props` JSON column parsed
    // ONCE per row with a declared schema (`from_json` — vectorized
    // Jackson under codegen, never a per-field re-parse) and profiled per
    // event type. The ubiquitous ingest step for log/telemetry payloads:
    // JSON stays opaque in storage, the engine projects typed fields.
    "q126_json_shred" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType))))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    }),

    "q119_seasonality" -> ((s, d) => {
      Tables.events(s, d)
        .select(expr("CAST((unix_micros(ts) div 86400000000 + 3) % 7 AS INT)").as("dow"),
          expr("CAST((unix_micros(ts) div 3600000000) % 24 AS INT)").as("hour"),
          cents(col("value")).as("v"), col("user_id"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("v")).as("sum_cents"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Weekly retention cohorts: users grouped by first-activity week;
    // n_active counts who returns k weeks later. Four key-parallel hops
    // — distinct (user, week), per-user min week, user-key join, final
    // (cohort, age) agg — each a plain hash shuffle; exact count
    // distinct (the cohort matrix is small, its per-cell distinct sets
    // are not rebuilt anywhere). Weeks are Monday-truncated DATEs on
    // both engines, so age arithmetic is exact integer days / 7.
    "q70_retention_cohorts" -> ((s, d) => {
      val uw = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      uw.join(first, "user_id")
        .groupBy(col("cohort_wk"),
          floor(datediff(col("wk"), col("cohort_wk")) / 7).cast("int").as("age_wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),
    // Rolling 7-day active users per day (WAU): each (user, active-day)
    // pair CONTRIBUTES to the 7 report days it falls inside, turning the
    // sliding distinct-count — not decomposable over window panes — into
    // a plain exact distinct on (report_day, user). The explode factor is
    // the window length (7), applied to the already-deduped (user, day)
    // relation, not raw events; shuffles ride the report-day key.
    "q76_rolling_active_users" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      // bound from the deduped relation — same max, no second events scan
      val bounds = ud.agg(max(col("day")).as("max_day"))
      ud.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(sequence(col("day"), least(date_add(col("day"), 6), col("max_day"))))
            .as("report_day"))
        .distinct() // (user, report_day) — count(*) below IS the distinct count
        .groupBy(col("report_day"))
        .agg(count(lit(1)).as("wau"))
    }),

    // Peak session concurrency per day, sweep-line style: sessions (from
    // the q22 sessionizer) become +1/−1 delta points at start/end+1µs,
    // deltas collapse per timestamp, and the running total — the live
    // session count at each change point — rides the distributed
    // PrefixSum, not a single-task global window. Reported metric: max
    // concurrency AT CHANGE POINTS within each day (a day's carried-in
    // level between midnight and its first point is not sampled — same
    // definition on both engines).
    "q78_concurrency" -> ((s, d) => {
      val sess = graft.operators.Sessionize.batch(Tables.events(s, d))
      val pts = sess.select(explode(array(
          struct(col("session_start_us").as("us"), lit(1L).as("delta")),
          struct((col("session_end_us") + 1).as("us"), lit(-1L).as("delta"))))
          .as("p"))
        .select(col("p.us").as("us"), col("p.delta").as("delta"))
        .groupBy(col("us")).agg(sum(col("delta")).as("d")) // unique order key
      graft.operators.PrefixSum.running(pts, "us", "d", cumCol = "conc")
        .groupBy(timestamp_micros(col("us")).cast("date").as("day"))
        .agg(max(col("conc")).as("max_concurrent"))
    }),

    // Trapezoidal time-weighted average of `value` per user — the right
    // mean for irregularly-sampled series (a gauge sampled on events, not
    // on a clock). TWA = Σ (vᵢ+vᵢ₊₁)(tᵢ₊₁−tᵢ) / 2(tₙ−t₁); the numerator is
    // summed EXACTLY in cents·µs longs (order-independent), floats appear
    // only in the final rounded division. One user-keyed sort-window pass
    // (lead) + one hash-agg on the same key. (event_id breaks ts ties →
    // total order; zero-width segments contribute 0 either way.)
    "q82_time_weighted_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), cents(col("value")).as("cents"))
        .withColumn("us2", lead(col("us"), 1).over(w))
        .withColumn("c2", lead(col("cents"), 1).over(w))
        .filter(col("us2").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_seg"),
          sum((col("cents") + col("c2")) * (col("us2") - col("us"))).as("num_cents_us"),
          (max(col("us2")) - min(col("us"))).as("span_us"))
        .filter(col("span_us") > 0)
        .withColumn("twa_cents",
          graft.functions.PortableMath.roundPortable(col("num_cents_us").cast("double") / (col("span_us") * 2), 4))
    }),

    // Incremental-rollup invariance: the weekly report computed FROM the
    // daily partial aggregates (count/sum are monoids, so re-aggregating
    // partials is exact — the pattern behind incremental materialized
    // views: the 100 TB history is never rescanned, only the new day's
    // partial is merged). The oracle recomputes weekly from raw events —
    // the hash match IS the invariance proof.
    "q84_incremental_reagg" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("cents"))
      daily
        .groupBy(date_trunc("week", col("day")).cast("date").as("wk"), col("event_type"))
        .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("cents"),
          count(lit(1)).as("n_days"))
    }),

    // Calendar gap-fill + LOCF: each user's daily spend series densified to
    // a contiguous day spine (min..max active day), missing days filled by
    // last-observation-carried-forward. The spine explode is bounded by the
    // per-user span (never a global calendar cross join); Catalyst
    // collapses the spine-bounds branch into a direct per-user min/max scan
    // of events (min over daily groups = min over raw rows — verified in
    // the plan), so neither branch waits on the other's aggregate. LOCF is
    // `last(ignoreNulls)` over a
    // running row frame — day keys are unique per user after the daily agg,
    // so the frame is a total order and the fill is deterministic.
    "q87_gap_fill_locf" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(cents(col("value"))).as("cents"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("cents"),
          last(col("cents"), ignoreNulls = true).over(w).as("cents_filled"),
          col("cents").isNull.as("is_gap"))
    }),

    // LINEAR interpolation of gaps — q87's LOCF sibling for signals where
    // holding the last value flat is wrong (metering, balances). Interior
    // gaps are always bracketed (the spine spans each user's [min, max]
    // day, both non-null), so interp = prev + (next−prev)·dd div span is
    // total; integer `div` truncates toward zero IDENTICALLY in Spark and
    // DuckDB (the q161 finding) so the fill is hash-checked. prev/next
    // day and value ride separate ignoreNulls windows — coherent because
    // both pick the same bracketing row (they are null together). Same
    // scale shape as q87: user-keyed sort windows, partitions bounded by
    // one user's history.
    "q254_linear_interpolation" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(cents(col("value"))).as("cents"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("cents"),
          last(when(col("cents").isNotNull, col("day")), ignoreNulls = true)
            .over(wPrev).as("d_prev"),
          last(col("cents"), ignoreNulls = true).over(wPrev).as("c_prev"),
          first(when(col("cents").isNotNull, col("day")), ignoreNulls = true)
            .over(wNext).as("d_next"),
          first(col("cents"), ignoreNulls = true).over(wNext).as("c_next"))
        .select(col("user_id"), col("day"), col("cents"),
          when(col("cents").isNotNull, col("cents"))
            .otherwise(col("c_prev") +
              expr("((c_next - c_prev) * datediff(day, d_prev)) div datediff(d_next, d_prev)"))
            .as("interp_cents"),
          col("cents").isNull.as("is_gap"))
    }),

    // Inter-arrival latency histogram on power-of-2 buckets: per event
    // type, the distribution of per-user gaps between consecutive events.
    // The bucket is length(bin(gap)) — the MSB position, i.e. ⌊log2⌋+1 for
    // gap ≥ 1 — computed in pure integer/string ops because float log2 is
    // NOT cross-engine-exact at bucket boundaries (Spark's log2 is
    // ln(x)/ln(2); a 2^k input can land a hair under k and floor into the
    // wrong bucket). Zero gaps (duplicate timestamps) share bucket 1 with
    // gap=1 by this definition — documented, identical on both engines.
    // One user-keyed sort-window pass + a tiny (types × ~45 buckets) agg.
    "q89_interarrival_histogram" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .withColumn("bucket_log2", length(bin(col("gap"))))
        .groupBy(col("event_type"), col("bucket_log2"))
        .agg(count(lit(1)).as("n"),
          min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"))
    }),

    // Event-type Markov transitions: (from → to) counts + row-normalized
    // probabilities over each user's event sequence. The lag/lead order is
    // (ts, event_id) — event_id is unique, so the sequence is a TOTAL
    // order and the window is deterministic despite duplicate timestamps.
    // One user-keyed sort-window pass + one tiny (|types|²) aggregate;
    // the probability divides two exact counts, rounded identically.
    // Markov REMOVAL-EFFECT attribution — the channel-value model that
    // replaces last-touch heuristics (q112/q160): estimate the chain from
    // ALL consecutive (prev → next) user transitions (one user-keyed lag
    // window + a type×type count rollup — the distributed work), then
    // evaluate conversion probability by K=6-step backward induction with
    // 'purchase' absorbing, and re-evaluate with each channel's incoming
    // mass REMOVED (redirected to loss). The count matrix is bounded by
    // the TYPE DOMAIN (≤ 6×5 cells — a legal driver collect), so the
    // induction is driver integer math in micro units with div truncation
    // per round (q81 PageRank's bit-reproducible discipline — a true
    // absorbing-chain inverse would need unportable rational sums).
    // removal_bp(c) = (P − P₋c)·10⁴ div P. The oracle unrolls the same
    // induction as single-row scalar CTEs, per channel.
    "q293_markov_attribution" -> ((s, d) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val counts = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("prev", coalesce(lag(col("event_type"), 1).over(w), lit("START")))
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("c"))
        .collect() // bounded by the type domain: ≤ (|types|+1)·|types| rows
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      def cell(p: String, n: String) = counts.getOrElse((p, n), 0L)
      def rowsum(p: String) = types.map(cell(p, _)).sum
      val M = 1000000L
      def evalChain(excluded: Option[String]): Long = {
        val reach = types.filterNot(excluded.contains)
        var p = types.map(t => t -> (if (t == "purchase") M else 0L)).toMap
        for (_ <- 1 to 6) {
          p = types.map { st =>
            st -> (if (st == "purchase") M
            else {
              val rs = rowsum(st)
              if (rs == 0) 0L else reach.map(t => cell(st, t) * p(t)).sum / rs
            })
          }.toMap
        }
        val rs = rowsum("START")
        if (rs == 0) 0L else reach.map(t => cell("START", t) * p(t)).sum / rs
      }
      val base = evalChain(None)
      types.filterNot(_ == "purchase").map { ch =>
        val rem = evalChain(Some(ch))
        (ch, base, rem, if (base > 0) (base - rem) * 10000 / base else 0L)
      }.toDF("channel", "p_base_micro", "p_removed_micro", "removal_bp")
    }),

    "q72_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val wf = Window.partitionBy(col("from_type"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", graft.functions.PortableMath.roundPortable(col("n").cast("double") / sum(col("n")).over(wf), 4))
    }),

    // Spark's BUILT-IN session_window aggregation — the declarative dual
    // of operators/Sessionize (one groupBy the engine can also run
    // incrementally under a watermark in streaming mode). Its boundary
    // semantics differ from Sessionize's and are pinned under the hash
    // gate: session_window merges an event only when its gap is STRICTLY
    // below the 30 min duration (an event landing exactly on the previous
    // window's end starts a NEW session), while Sessionize merges on <=.
    // The oracle replays the strict form as gap islands in exact µs.
    // session_end is the built-in's last-event-ts + gap; value sums in
    // integer cents.
    "q208_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(coalesce(cents(col("value")), lit(0L))).as("value_cents"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("value_cents"))),
  )

  val oracle: Map[String, String] = Map(

    // the full induction unrolled as single-row scalar CTEs: the count
    // matrix lands as 30 columns, each chain (base + one per removed
    // channel) adds 6 rounds of per-state columns carried via SELECT *
    "q293_markov_attribution" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val prevs = "START" +: types
      val channels = types.filterNot(_ == "purchase")
      val cellCols = (for (p <- prevs; n <- types) yield
        s"sum(CASE WHEN prev = '$p' AND next = '$n' THEN c ELSE 0 END)::BIGINT AS c_${p}_$n")
        .mkString(",\n    ")
      val rsCols = prevs.map(p =>
        s"(${types.map(n => s"c_${p}_$n").mkString(" + ")})::BIGINT AS rs_$p")
        .mkString(",\n    ")
      def pcol(tag: String, t: String, k: Int): String =
        if (t == "purchase") "1000000"
        else if (k == 0) "0"
        else s"p$tag${k}_$t"
      def chain(tag: String, reach: Seq[String], from0: String): String =
        (1 to 6).map { k =>
          val cols = reach.filterNot(_ == "purchase").map { st =>
            val numer = reach.map(t => s"c_${st}_$t * ${pcol(tag, t, k - 1)}")
              .mkString(" + ")
            s"(CASE WHEN rs_$st > 0 THEN ($numer) // rs_$st ELSE 0 END)::BIGINT AS p$tag${k}_$st"
          }.mkString(",\n    ")
          val from = if (k == 1) from0 else s"p$tag${k - 1}"
          s"p$tag$k AS (SELECT *,\n    $cols\n  FROM $from)"
        }.mkString(",\n")
      def startVal(tag: String, reach: Seq[String]): String = {
        val numer = reach.map(t => s"c_START_$t * ${pcol(tag, t, 6)}").mkString(" + ")
        s"(CASE WHEN rs_START > 0 THEN ($numer) // rs_START ELSE 0 END)"
      }
      val chains = (("b", types, "m2") +:
        channels.map(ch => (ch.take(2) + "x", types.filterNot(_ == ch), ""): (String, Seq[String], String)))
      // chain the CTEs: each starts FROM the previous chain's last CTE
      val chainSql = {
        var prevLast = "m2"
        chains.map { case (tag, reach, _) =>
          val sql = chain(tag, reach, prevLast)
          prevLast = s"p${tag}6"
          sql
        }.mkString(",\n")
      }
      val lastCte = s"p${chains.last._1}6"
      val unions = channels.map { ch =>
        val tag = ch.take(2) + "x"
        val base = startVal("b", types)
        val rem = startVal(tag, types.filterNot(_ == ch))
        s"""SELECT '$ch' AS channel, $base::BIGINT AS p_base_micro,
           |  $rem::BIGINT AS p_removed_micro,
           |  (CASE WHEN $base > 0 THEN (($base) - ($rem)) * 10000 // ($base)
           |        ELSE 0 END)::BIGINT AS removal_bp
           |FROM $lastCte""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tr AS (SELECT user_id, event_type AS next,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |      AS prevt
         |  FROM events),
         |tc AS (SELECT coalesce(prevt, 'START') AS prev, next, count(*)::BIGINT AS c
         |  FROM tr GROUP BY 1, 2),
         |m AS (SELECT
         |    $cellCols
         |  FROM tc),
         |m2 AS (SELECT *,
         |    $rsCols
         |  FROM m),
         |$chainSql
         |$unions""".stripMargin
    },
    "q64_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.us) AS click_us FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.us > v.view_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.us) AS purchase_us FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.us > c.click_us GROUP BY e.user_id)
        |SELECT v.user_id, view_us, click_us, purchase_us,
        |  1 + (click_us IS NOT NULL)::INT + (purchase_us IS NOT NULL)::INT AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,

    "q94_rolling_median" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events WHERE value IS NOT NULL),
        |w AS (SELECT event_id, user_id,
        |        list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |      FROM e)
        |SELECT event_id, user_id, len(arr)::INT AS n_window,
        |  (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1])::BIGINT AS median_x2_cents
        |FROM w""".stripMargin,

    "q95_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |      FROM events),
        |r AS (SELECT *, CASE WHEN lag(event_type) OVER
        |          (PARTITION BY user_id ORDER BY us, event_id)
        |          IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |      FROM e),
        |v AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS ver
        |      FROM r),
        |g AS (SELECT user_id, ver::BIGINT AS ver, event_type AS state,
        |        min(us) AS valid_from_us, count(*) AS n_events
        |      FROM v GROUP BY 1, 2, 3)
        |SELECT user_id, ver, state, valid_from_us, n_events,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to_us,
        |  (lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY ver) IS NULL)
        |    AS is_current
        |FROM g""".stripMargin,

    "q110_decayed_activity" ->
      """WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
        |b AS (SELECT max(day) AS dmax FROM ev),
        |g AS (SELECT user_id, day, dmax, count(*) AS n
        |      FROM ev CROSS JOIN b WHERE (dmax - day) < 30
        |      GROUP BY user_id, day, dmax),
        |w AS (SELECT user_id, n,
        |        n * (1::BIGINT << (29 - (dmax - day))) AS w FROM g)
        |SELECT user_id, sum(w)::BIGINT AS decay_score_x2e29,
        |  sum(n)::BIGINT AS n_events_30d, count(*) AS n_active_days
        |FROM w GROUP BY user_id
        |ORDER BY decay_score_x2e29 DESC, user_id LIMIT 20""".stripMargin,

    "q118_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS rk FROM c),
        |t AS (SELECT count(*) AS n_all FROM c)
        |SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_events,
        |  max(cnt)::BIGINT AS max_cnt,
        |  (sum(CASE WHEN rk > n_all - (n_all + 9) // 10 THEN cnt ELSE 0 END)::BIGINT
        |     * 1000000 // sum(cnt)::BIGINT)::BIGINT AS top_decile_micro,
        |  (sum((2 * rk - n_all - 1) * cnt)::BIGINT
        |     * 1000000 // (count(*) * sum(cnt)::BIGINT))::BIGINT AS gini_micro
        |FROM r, t""".stripMargin,

    "q136_stl_decompose" ->
      """WITH daily AS (SELECT ts::DATE AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY ts::DATE),
        |tr AS (SELECT day, cents,
        |    list_sort(list(cents) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        |  FROM daily),
        |t AS (SELECT day, cents,
        |    (arr[(len(arr) + 1) // 2]::DOUBLE + arr[len(arr) // 2 + 1]::DOUBLE) / 2
        |      AS trend,
        |    ((day - DATE '1970-01-01') + 3) % 7 AS dow
        |  FROM tr),
        |dt AS (SELECT day, cents, trend, dow, cents::DOUBLE - trend AS detr FROM t),
        |se AS (SELECT dow, list_sort(list(detr)) AS sarr FROM dt GROUP BY dow),
        |sm AS (SELECT dow,
        |    (sarr[(len(sarr) + 1) // 2] + sarr[len(sarr) // 2 + 1]) / 2 AS seasonal
        |  FROM se)
        |SELECT day, cents, trend, dt.dow::INT AS dow, seasonal,
        |  (detr - seasonal) AS residual
        |FROM dt JOIN sm ON dt.dow = sm.dow""".stripMargin,

    "q137_top_journeys" ->
      """WITH ev AS (SELECT user_id, ts::DATE AS day, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id, ts::DATE
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |kept AS (SELECT * FROM ev WHERE prev IS NULL OR event_type <> prev),
        |j AS (SELECT user_id, day,
        |    array_to_string(list(event_type ORDER BY ts, event_id), '>') AS journey
        |  FROM kept GROUP BY user_id, day)
        |SELECT journey, count(*)::BIGINT AS n_sessions
        |FROM j GROUP BY journey
        |ORDER BY n_sessions DESC, journey LIMIT 10""".stripMargin,

    "q132_debounce" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |fl AS (SELECT user_id, event_type, us, event_id,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY us, event_id) <= 86400000000
        |         THEN 0 ELSE 1 END AS new_burst
        |  FROM ev),
        |bi AS (SELECT user_id, event_type,
        |    sum(new_burst) OVER (PARTITION BY user_id, event_type
        |                         ORDER BY us, event_id) AS burst
        |  FROM fl),
        |bl AS (SELECT user_id, event_type, burst, count(*) AS burst_len
        |  FROM bi GROUP BY user_id, event_type, burst)
        |SELECT event_type, count(*)::BIGINT AS n_bursts,
        |  sum(burst_len)::BIGINT AS n_events,
        |  (sum(burst_len) - count(*))::BIGINT AS n_suppressed,
        |  max(burst_len)::BIGINT AS max_burst
        |FROM bl GROUP BY event_type""".stripMargin,

    "q127_funnel_latency" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.us) AS click_us FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.us > v.view_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.us) AS purchase_us FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.us > c.click_us GROUP BY e.user_id),
        |lat AS (SELECT (purchase_us - view_us)::DOUBLE AS lat_us
        |  FROM p JOIN v USING (user_id))
        |SELECT count(*)::BIGINT AS n_converted,
        |  (floor((quantile_cont(lat_us, 0.5) / 1000000) * 1000 + 0.5) / 1000) AS p50_s,
        |  (floor((quantile_cont(lat_us, 0.9) / 1000000) * 1000 + 0.5) / 1000) AS p90_s,
        |  (floor((quantile_cont(lat_us, 0.99) / 1000000) * 1000 + 0.5) / 1000) AS p99_s
        |FROM lat""".stripMargin,

    "q123_seq_patterns" ->
      """WITH ev AS (SELECT user_id, ts::DATE AS day, event_type,
        |    row_number() OVER (PARTITION BY user_id, ts::DATE
        |                       ORDER BY ts, event_id) AS ord
        |  FROM events),
        |ty AS (SELECT user_id, day, event_type,
        |    min(ord) AS mn, max(ord) AS mx
        |  FROM ev GROUP BY user_id, day, event_type)
        |SELECT a.event_type AS ta, b.event_type AS tb,
        |  count(*)::BIGINT AS n_sessions
        |FROM ty a JOIN ty b
        |  ON a.user_id = b.user_id AND a.day = b.day
        | AND a.event_type <> b.event_type AND a.mn < b.mx
        |GROUP BY ta, tb""".stripMargin,

    "q126_json_shred" ->
      """WITH ev AS (SELECT event_type,
        |    (props->>'$.k')::BIGINT AS k FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  count(k)::BIGINT AS n_with_k,
        |  sum(k)::BIGINT AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM ev GROUP BY event_type""".stripMargin,

    "q119_seasonality" ->
      """SELECT CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS INT) AS dow,
        |  CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour,
        |  count(*)::BIGINT AS n_events,
        |  sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q106_imputation" ->
      """WITH ev AS (SELECT event_id, user_id,
        |        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |um AS (SELECT user_id,
        |        CAST(floor(sum(cents)::DOUBLE / count(*) + 0.5) AS BIGINT)
        |          AS user_mean_cents
        |      FROM ev WHERE cents IS NOT NULL GROUP BY user_id),
        |gm AS (SELECT CAST(floor(sum(cents)::DOUBLE / count(*) + 0.5) AS BIGINT)
        |          AS global_mean_cents
        |      FROM ev WHERE cents IS NOT NULL)
        |SELECT event_id, ev.user_id,
        |  coalesce(cents, user_mean_cents, global_mean_cents) AS cents_filled,
        |  (cents IS NULL) AS was_imputed
        |FROM ev LEFT JOIN um ON ev.user_id = um.user_id CROSS JOIN gm""".stripMargin,

    "q245_window_heavy_hitters" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        |ew AS (SELECT ((us // 21600000000) - i) * 21600000000 AS ws_us, event_type
        |       FROM ev, range(0, 4) t(i)),
        |tot AS (SELECT ws_us, count(*) AS n FROM ew GROUP BY ws_us),
        |exact AS (SELECT ws_us, event_type, count(*) AS cnt FROM ew GROUP BY 1, 2)
        |SELECT exact.ws_us, event_type, cnt::BIGINT AS cnt,
        |  TRUE AS in_summary, TRUE AS bounds_ok
        |FROM exact JOIN tot ON exact.ws_us = tot.ws_us
        |WHERE cnt * 5 > n""".stripMargin,

    "q264_markov_eval" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |        ts::DATE AS day FROM events),
        |p AS (SELECT day, event_type AS next,
        |        lag(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS prev
        |      FROM ev),
        |pairs AS (SELECT * FROM p WHERE prev IS NOT NULL),
        |tr AS (SELECT prev, next, count(*) AS cnt FROM pairs
        |       WHERE day < DATE '2024-01-23' GROUP BY 1, 2),
        |rk AS (SELECT prev, next AS pred,
        |         row_number() OVER (PARTITION BY prev
        |           ORDER BY cnt DESC, next) AS rn FROM tr),
        |pd AS (SELECT prev, pred FROM rk WHERE rn = 1),
        |te AS (SELECT pairs.prev, next, pred
        |       FROM pairs JOIN pd ON pairs.prev = pd.prev
        |       WHERE day >= DATE '2024-01-23'),
        |pp AS (SELECT prev, count(*)::BIGINT AS n,
        |         sum(CASE WHEN next = pred THEN 1 ELSE 0 END)::BIGINT AS correct
        |       FROM te GROUP BY 1
        |       UNION ALL
        |       SELECT 'ALL', count(*)::BIGINT,
        |         sum(CASE WHEN next = pred THEN 1 ELSE 0 END)::BIGINT FROM te)
        |SELECT prev, n, correct, (correct * 10000 // n)::BIGINT AS acc_bp
        |FROM pp""".stripMargin,

    "q260_window_percentiles" ->
      """WITH ev AS (SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS ws,
        |        least(CAST(round(value * 100) AS BIGINT) // 500, 127) AS bin
        |      FROM events WHERE value IS NOT NULL),
        |b AS (SELECT ws, bin, count(*)::BIGINT AS cnt FROM ev GROUP BY 1, 2),
        |c AS (SELECT ws, bin, cnt,
        |        (sum(cnt) OVER (PARTITION BY ws ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
        |      FROM b),
        |t AS (SELECT ws, sum(cnt)::BIGINT AS n FROM b GROUP BY 1)
        |SELECT c.ws AS window_start_us, n,
        |  min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bin END)::BIGINT AS p50_bin,
        |  (min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bin END) * 500)::BIGINT
        |    AS p50_lo_cents,
        |  min(CASE WHEN cum >= (95 * n + 99) // 100 THEN bin END)::BIGINT AS p95_bin,
        |  (min(CASE WHEN cum >= (95 * n + 99) // 100 THEN bin END) * 500)::BIGINT
        |    AS p95_lo_cents
        |FROM c JOIN t ON c.ws = t.ws
        |GROUP BY 1, 2""".stripMargin,

    "q247_window_top_users" ->
      """WITH ew AS (SELECT ((epoch_us(ts) // 21600000000) - i) * 21600000000 AS ws_us,
        |         user_id
        |       FROM events, range(0, 4) t(i)),
        |c AS (SELECT ws_us, user_id, count(*)::BIGINT AS cnt FROM ew GROUP BY 1, 2),
        |r AS (SELECT ws_us, user_id, cnt,
        |        row_number() OVER (PARTITION BY ws_us
        |                           ORDER BY cnt DESC, user_id) AS rank
        |      FROM c)
        |SELECT ws_us, rank::BIGINT AS rank, user_id, cnt
        |FROM r WHERE rank <= 5""".stripMargin,

    "q242_ohlc_bars" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_id,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events WHERE value IS NOT NULL),
        |b AS (SELECT (us // 3600000000) * 3600000000 AS hour_us, us, event_id, cents
        |      FROM ev),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY hour_us ORDER BY us, event_id) AS ro,
        |        row_number() OVER (PARTITION BY hour_us ORDER BY us DESC, event_id DESC) AS rc
        |      FROM b),
        |agg AS (SELECT hour_us, max(cents)::BIGINT AS high_cents,
        |          min(cents)::BIGINT AS low_cents, count(*)::BIGINT AS n_events,
        |          sum(cents)::BIGINT AS vol_cents
        |        FROM b GROUP BY hour_us)
        |SELECT agg.hour_us, o.cents AS open_cents, high_cents, low_cents,
        |  c.cents AS close_cents, n_events, vol_cents
        |FROM agg
        |JOIN r o ON o.hour_us = agg.hour_us AND o.ro = 1
        |JOIN r c ON c.hour_us = agg.hour_us AND c.rc = 1""".stripMargin,

    "q65_rolling_window" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  (sum(cents) OVER w)::BIGINT AS cents_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q68_anomaly_zscore" ->
      """WITH ev AS (SELECT event_id, user_id,
        |        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |stats AS (SELECT user_id, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s,
        |        sum(cents * cents)::BIGINT AS q
        |      FROM ev WHERE cents IS NOT NULL GROUP BY user_id)
        |SELECT event_id, ev.user_id, cents, n,
        |  floor(s::DOUBLE / n * 100 + 0.5) / 100 AS mean_cents,
        |  (n::HUGEINT * cents - s) * (n::HUGEINT * cents - s) * (n - 1)
        |    > 4::HUGEINT * n * (n::HUGEINT * q - s::HUGEINT * s)
        |    AS is_outlier
        |FROM ev JOIN stats USING (user_id)
        |WHERE n >= 2""".stripMargin,

    "q70_retention_cohorts" ->
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id)
        |SELECT cohort_wk, ((wk - cohort_wk) // 7)::INT AS age_wk,
        |  count(DISTINCT user_id) AS n_active
        |FROM uw JOIN f USING (user_id)
        |GROUP BY cohort_wk, age_wk""".stripMargin,

    "q78_concurrency" -> {
      val sessSql = graft.operators.Sessionize.batchOracleSql()
      s"""WITH sess AS ($sessSql),
         |p AS (SELECT session_start_us AS us, 1 AS d FROM sess
         |      UNION ALL SELECT session_end_us + 1, -1 FROM sess),
         |a AS (SELECT us, sum(d)::BIGINT AS d FROM p GROUP BY us),
         |c AS (SELECT us,
         |        (sum(d) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING))::BIGINT AS conc
         |      FROM a)
         |SELECT make_timestamp(us)::DATE AS day, max(conc) AS max_concurrent
         |FROM c GROUP BY day""".stripMargin
    },

    "q76_rolling_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |b AS (SELECT max(ts::DATE) AS max_day FROM events),
        |x AS (SELECT DISTINCT user_id,
        |        unnest(generate_series(day, least(day + 6, max_day), INTERVAL 1 DAY))::DATE
        |          AS report_day
        |      FROM ud, b)
        |SELECT report_day, count(*) AS wau FROM x GROUP BY report_day""".stripMargin,

    "q82_time_weighted_avg" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events WHERE value IS NOT NULL),
        |l AS (SELECT user_id, us, cents,
        |        lead(us) OVER w AS us2, lead(cents) OVER w AS c2
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, count(*) AS n_seg,
        |        sum((cents + c2) * (us2 - us))::BIGINT AS num_cents_us,
        |        (max(us2) - min(us))::BIGINT AS span_us
        |      FROM l WHERE us2 IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_seg, num_cents_us, span_us,
        |  (floor(num_cents_us::DOUBLE / (span_us * 2) * 10000 + 0.5) / 10000) AS twa_cents
        |FROM g WHERE span_us > 0""".stripMargin,

    "q84_incremental_reagg" ->
      """WITH daily AS (SELECT ts::DATE AS day, event_type, count(*) AS n,
        |        sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |      FROM events GROUP BY 1, 2)
        |SELECT date_trunc('week', day)::DATE AS wk, event_type,
        |  sum(n)::BIGINT AS n_events, sum(cents)::BIGINT AS cents,
        |  count(*) AS n_days
        |FROM daily GROUP BY 1, 2""".stripMargin,

    "q254_linear_interpolation" ->
      """WITH daily AS (SELECT user_id, ts::DATE AS day,
        |        sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |      FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT user_id,
        |        unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b),
        |j AS (SELECT s.user_id, s.day, d.cents
        |      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
        |w AS (SELECT user_id, day, cents,
        |        last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
        |        last_value(cents IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_prev,
        |        first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d_next,
        |        first_value(cents IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS c_next
        |      FROM j)
        |SELECT user_id, day, cents,
        |  (CASE WHEN cents IS NOT NULL THEN cents
        |        ELSE c_prev + ((c_next - c_prev) * (day - d_prev))
        |               // (d_next - d_prev) END)::BIGINT AS interp_cents,
        |  (cents IS NULL) AS is_gap
        |FROM w""".stripMargin,

    "q87_gap_fill_locf" ->
      """WITH daily AS (SELECT user_id, ts::DATE AS day,
        |        sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |      FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT user_id,
        |        unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b),
        |j AS (SELECT s.user_id, s.day, d.cents
        |      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, day, cents,
        |  last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_filled,
        |  (cents IS NULL) AS is_gap
        |FROM j""".stripMargin,

    "q89_interarrival_histogram" ->
      """WITH ev AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT event_type,
        |        us - lag(us) OVER (PARTITION BY event_type, user_id
        |                           ORDER BY us, event_id) AS gap
        |      FROM ev),
        |g AS (SELECT event_type, gap, length(bin(gap))::INT AS bucket_log2
        |      FROM l WHERE gap IS NOT NULL)
        |SELECT event_type, bucket_log2, count(*) AS n,
        |  min(gap) AS min_gap_us, max(gap) AS max_gap_us
        |FROM g GROUP BY event_type, bucket_log2""".stripMargin,

    "q72_event_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS to_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  (floor(n::DOUBLE / (sum(n) OVER (PARTITION BY from_type)) * 10000 + 0.5) / 10000) AS p
        |FROM c""".stripMargin,

    "q208_session_window" ->
      """WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us,
        |        coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents FROM events),
        |l AS (SELECT user_id, ts, us, cents,
        |        CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |                  < 1800000000 THEN 0 ELSE 1 END AS brk
        |      FROM e),
        |g AS (SELECT user_id, ts, cents,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM l)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS value_cents
        |FROM g GROUP BY user_id, sid""".stripMargin,
  )
}
