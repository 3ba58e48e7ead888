package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.util.Lineage

/** Temporal operators for event streams, designed for the 100 TB regime.
  *
  * The reference engine's time semantics stop at micro-batch boundaries
  * (`storm/trident/spout/ITridentSpout.java` batch ids — nothing row-level);
  * these are the row-level temporal operators a training-data / analytics
  * pipeline layers on top: as-of joins (attribution), sessionization,
  * hopping windows, and banded range joins.
  *
  * Scale notes per operator are on each method; the common theme: every
  * operator here is ONE hash-shuffle on the entity key (or zero for the
  * broadcast band join) — no range-explosion joins, no per-row probes.
  */
object Temporal {

  /** Backward as-of join: for each left row, attach the single most recent
    * right-side value with `rightTs <= leftTs` for the same `key` (NULL when
    * no prior right row exists).
    *
    * Implementation is the union+running-window form: tag each side, union,
    * then one window `last(value, ignoreNulls)` ordered by (ts, side,
    * value) carries the latest right value forward into left rows. Both
    * inputs shuffle ONCE on `key`; contrast with the naive
    * `JOIN ON key AND r.ts <= l.ts` + arg-max, which materializes every
    * (left, prior-right) pair — quadratic per key, fatal at 100 TB. Right
    * rows sort before left rows at an equal timestamp (the bound is
    * inclusive); right-side ties on (ts) resolve to the greatest value, so
    * the result is deterministic.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String,
      outCol: String): DataFrame = {
    val payloadType = StructType(left.schema.fields)
    val rvType = right.schema(rightVal).dataType
    val l = left.select(
      F.col(key).as("__k"), F.col(leftTs).cast("long").as("__ts"),
      F.lit(1).as("__side"), F.lit(null).cast(rvType).as("__rv"),
      F.struct(left.columns.map(F.col).toIndexedSeq: _*).as("__row"))
    val r = right.select(
      F.col(key).as("__k"), F.col(rightTs).cast("long").as("__ts"),
      F.lit(0).as("__side"), F.col(rightVal).cast(rvType).as("__rv"),
      F.lit(null).cast(payloadType).as("__row"))
    val w = Window.partitionBy("__k")
      .orderBy(F.col("__ts"), F.col("__side"), F.col("__rv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("__asof", F.last("__rv", ignoreNulls = true).over(w))
      .where(F.col("__side") === 1)
      .select(left.columns.map(c => F.col(s"__row.$c")).toIndexedSeq
        :+ F.col("__asof").as(outCol): _*)
  }

  /** Forward as-of join: for each left row, the single EARLIEST right value
    * with `rightTs >= leftTs` on the same key (NULL when nothing follows) —
    * the "time to next conversion" shape. Same single-shuffle union+window
    * structure as [[asofJoinBackward]], with a forward-looking
    * `first(_, ignoreNulls)` window; right rows sort after left rows at an
    * equal timestamp would EXCLUDE the bound, so side order keeps right
    * first (inclusive), and right ties resolve to the smallest value. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String,
      outCol: String): DataFrame = {
    val payloadType = StructType(left.schema.fields)
    val rvType = right.schema(rightVal).dataType
    val l = left.select(
      F.col(key).as("__k"), F.col(leftTs).cast("long").as("__ts"),
      F.lit(1).as("__side"), F.lit(null).cast(rvType).as("__rv"),
      F.struct(left.columns.map(F.col).toIndexedSeq: _*).as("__row"))
    val r = right.select(
      F.col(key).as("__k"), F.col(rightTs).cast("long").as("__ts"),
      F.lit(2).as("__side"), F.col(rightVal).cast(rvType).as("__rv"),
      F.lit(null).cast(payloadType).as("__row"))
    val w = Window.partitionBy("__k")
      .orderBy(F.col("__ts"), F.col("__side"), F.col("__rv"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    r.unionByName(l)
      .withColumn("__asof", F.first("__rv", ignoreNulls = true).over(w))
      .where(F.col("__side") === 1)
      .select(left.columns.map(c => F.col(s"__row.$c")).toIndexedSeq
        :+ F.col("__asof").as(outCol): _*)
  }

  /** Gap-based sessionization: consecutive events of one `key` belong to the
    * same session while the gap to the previous event is <= `gapTicks`
    * (same unit as the `ts` column — ns for the driver's event feed). Output
    * is one row per session: (key, session_seq, session_start, session_end,
    * n_events).
    *
    * One window shuffle on `key` (lag + running sum of new-session flags),
    * then a partial-aggregated groupBy — the second exchange moves only
    * per-session rows, negligible next to the event volume. The streaming
    * face of the same semantics is Structured Streaming's
    * `session_window`; this is the batch/backfill face, and the two agree
    * on session boundaries by construction (same gap rule).
    */
  def sessionize(df: DataFrame, key: String, ts: String, gapTicks: Long,
      tieBreak: String): DataFrame = {
    val order = Window.partitionBy(key).orderBy(F.col(ts), F.col(tieBreak))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", F.lag(F.col(ts), 1).over(order))
      .withColumn("__new",
        F.when(F.col("__prev").isNull ||
          F.col(ts).cast("long") - F.col("__prev").cast("long") > gapTicks, 1L)
          .otherwise(0L))
      .withColumn("session_seq", F.sum("__new").over(run))
      .groupBy(F.col(key), F.col("session_seq"))
      .agg(
        F.min(F.col(ts).cast("long")).as("session_start"),
        F.max(F.col(ts).cast("long")).as("session_end"),
        F.count(F.lit(1)).as("n_events"))
  }

  /** Skew-safe [[asofJoinBackward]]: same semantics, but the heavy window
    * partitions on (key, COARSE TIME BUCKET) instead of key alone — a
    * single hot key (bot user with 10^9 events) spreads across
    * span/bucketTicks tasks instead of serializing into one.
    *
    * Structure: (1) per (key, bucket), the bucket's FINAL right value —
    * a partial-aggregated groupBy, tiny output; (2) a carry pass over those
    * per-bucket rows (one window on session-count-sized data) computes each
    * bucket's incoming value; (3) the carry is injected as a synthetic
    * right row at each bucket's start, and the plain union+window runs
    * partitioned by (key, bucket). Event rows still shuffle ONCE; the two
    * extra exchanges move only per-bucket rows.
    */
  def asofJoinBackwardSalted(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String, outCol: String,
      bucketTicks: Long): DataFrame = {
    require(bucketTicks > 0, "bucketTicks must be positive")
    val payloadType = StructType(left.schema.fields)
    val rvType = right.schema(rightVal).dataType
    def bkt(c: Column): Column = c - F.pmod(c, F.lit(bucketTicks))
    val l = left.select(
      F.col(key).as("__k"), F.col(leftTs).cast("long").as("__ts"),
      F.lit(1).as("__side"), F.lit(null).cast(rvType).as("__rv"),
      F.struct(left.columns.map(F.col).toIndexedSeq: _*).as("__row"))
      .withColumn("__bkt", bkt(F.col("__ts")))
    val r = right.select(
      F.col(key).as("__k"), F.col(rightTs).cast("long").as("__ts"),
      F.lit(0).as("__side"), F.col(rightVal).cast(rvType).as("__rv"),
      F.lit(null).cast(payloadType).as("__row"))
      .withColumn("__bkt", bkt(F.col("__ts")))
    // (1) final right value per bucket — struct max = (latest ts, then
    // greatest value), the plain form's tie rule
    val bucketFinal = r.groupBy("__k", "__bkt")
      .agg(F.max(F.struct(F.col("__ts"), F.col("__rv"))).as("__fin"))
    // (2) carry into each bucket = last final value of any EARLIER bucket
    val allBuckets = l.select("__k", "__bkt").union(r.select("__k", "__bkt")).distinct()
    val wCarry = Window.partitionBy("__k").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allBuckets.join(bucketFinal, Seq("__k", "__bkt"), "left")
      .withColumn("__carry",
        F.last(F.col("__fin").getField("__rv"), ignoreNulls = true).over(wCarry))
      .where(F.col("__carry").isNotNull)
      .select(F.col("__k"), F.col("__bkt").as("__ts"),
        F.lit(-1).as("__side"), F.col("__carry").as("__rv"),
        F.lit(null).cast(payloadType).as("__row"), F.col("__bkt"))
    // (3) plain union+window, partitioned by (key, bucket); the synthetic
    // carry row sits at bucket start with side -1, before any real row
    val w = Window.partitionBy("__k", "__bkt")
      .orderBy(F.col("__ts"), F.col("__side"), F.col("__rv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l).unionByName(carry)
      .withColumn("__asof", F.last("__rv", ignoreNulls = true).over(w))
      .where(F.col("__side") === 1)
      .select(left.columns.map(c => F.col(s"__row.$c")).toIndexedSeq
        :+ F.col("__asof").as(outCol): _*)
  }

  /** Hopping (sliding) window assignment: emits one row per (input row,
    * window) for windows of `sizeTicks` advancing every `slideTicks`
    * (`sizeTicks` must be a multiple of `slideTicks`). Adds `win_start` —
    * aggregate on it afterwards.
    *
    * Pure per-row explode (size/slide rows out per row in, a small constant)
    * — embarrassingly parallel, no shuffle of its own; the downstream
    * aggregation shuffles on (win_start, ...) as any groupBy would. This is
    * how Spark's own `window()` with a slide executes; spelled out here so
    * the assignment works on raw long ticks (the driver's ns timestamps)
    * where `window()` wants TimestampType.
    */
  def hoppingWindows(df: DataFrame, ts: String, sizeTicks: Long,
      slideTicks: Long): DataFrame = {
    require(sizeTicks % slideTicks == 0, "size must be a multiple of slide")
    val t = F.col(ts).cast("long")
    // integer anchor (ns epochs exceed double's 2^53 exact range): for
    // t >= 0, t - (t mod slide) == floor(t/slide)*slide
    val anchor = t - F.pmod(t, F.lit(slideTicks))
    df.withColumn("win_start",
      F.explode(F.sequence(anchor - sizeTicks + slideTicks, anchor,
        F.lit(slideTicks))))
  }

  /** Skew-safe [[sessionize]]: identical output, but the per-event window
    * partitions on (key, coarse bucket of `bucketTicks`) — pass 1 builds
    * mini-sessions inside each bucket IN PARALLEL across a hot key's
    * buckets, pass 2 stitches mini-sessions that straddle bucket
    * boundaries (start within `gapTicks` of the previous end). Pass 2 only
    * sees SESSION rows — for the dense traffic that creates hot keys,
    * orders of magnitude fewer than events. `bucketTicks` must be ≥
    * `gapTicks` so a session can only straddle adjacent buckets (stitching
    * by adjacency stays exact). */
  def sessionizeSalted(df: DataFrame, key: String, ts: String, gapTicks: Long,
      tieBreak: String, bucketTicks: Long): DataFrame = {
    require(bucketTicks >= gapTicks, "bucketTicks must be >= gapTicks")
    val t = F.col(ts).cast("long")
    val order = Window.partitionBy(F.col(key), F.col("__bkt"))
      .orderBy(F.col(ts), F.col(tieBreak))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mini = df.withColumn("__bkt", t - F.pmod(t, F.lit(bucketTicks)))
      .withColumn("__prev", F.lag(F.col(ts), 1).over(order))
      .withColumn("__new",
        F.when(F.col("__prev").isNull ||
          t - F.col("__prev").cast("long") > gapTicks, 1L).otherwise(0L))
      .withColumn("__seq", F.sum("__new").over(run))
      .groupBy(F.col(key), F.col("__bkt"), F.col("__seq"))
      .agg(
        F.min(t).as("__start"),
        F.max(t).as("__end"),
        F.count(F.lit(1)).as("__n"))
    val o2 = Window.partitionBy(key).orderBy(F.col("__start"), F.col("__end"))
    val r2 = o2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mini.withColumn("__pend", F.lag(F.col("__end"), 1).over(o2))
      .withColumn("__stitch",
        F.when(F.col("__pend").isNull ||
          F.col("__start") - F.col("__pend") > gapTicks, 1L).otherwise(0L))
      .withColumn("session_seq", F.sum("__stitch").over(r2))
      .groupBy(F.col(key), F.col("session_seq"))
      .agg(
        F.min("__start").as("session_start"),
        F.max("__end").as("session_end"),
        F.sum("__n").as("n_events"))
  }

  /** Streaming face of [[sessionize]]: Structured Streaming's
    * `session_window` over a watermarked TimestampType column. Same gap
    * rule, so batch backfill and the live stream agree on session
    * boundaries; the one representational difference is the reference
    * frame of `session_end` — here it is last-event + gap (the window's
    * close), while the batch face reports the last event itself. State for
    * a session is evicted once the watermark passes its close, which is
    * what bounds state at 100 TB/day event volumes.
    */
  def sessionizeStream(df: DataFrame, key: String, ts: String,
      gap: String, delayThreshold: String): DataFrame =
    df.withWatermark(ts, delayThreshold)
      .groupBy(F.session_window(F.col(ts), gap), F.col(key))
      .agg(F.count(F.lit(1)).as("n_events"))
      .select(F.col(key),
        F.col("session_window.start").as("session_start"),
        F.col("session_window.end").as("session_end"),
        F.col("n_events"))

  /** Ordered per-key event history: the first `maxLen` values of `valCol`
    * per `key` in (ts, tieBreak-implicit-in-valCol) order, joined into one
    * `|`-separated string + the total event count — the sequence-feature
    * primitive (user histories, doc revision chains) for training
    * pipelines. Single aggregation shuffle, single scan; the `maxLen` cap is
    * applied INSIDE the aggregation buffer
    * ([[graft.plans.Expressions.BoundedFirstN]]), so a hot key (a bot user
    * with millions of events) costs a `maxLen`-row buffer, never a
    * whole-group `collect_list` materialization. */
  def orderedHistory(df: DataFrame, key: String, ts: String, valCol: String,
      maxLen: Int): DataFrame =
    df.groupBy(key)
      .agg(
        F.concat_ws("|",
          F.transform(
            graft.plans.Expressions.boundedFirstN(
              F.struct(F.col(ts), F.col(valCol)), maxLen),
            x => x.getField(valCol).cast("string"))).as("history"),
        F.count(F.lit(1)).as("n_events"))

  /** Banded range join: assign each row of `df` the matching band from a
    * SMALL bands table (`lo <= value < hi`, bands non-overlapping). The
    * bands side is broadcast, so the probe is map-side only — zero shuffle.
    * For a LARGE range side the strategy flips to banding both sides on
    * `floor(value / bandWidth)` and equi-joining the band key; that variant
    * is `Scale.saltedJoin`-shaped and not needed for dimension-sized band
    * tables.
    */
  def bandJoin(df: DataFrame, valueCol: String, bands: DataFrame,
      loCol: String, hiCol: String, joinType: String = "inner"): DataFrame =
    df.join(F.broadcast(bands),
      F.col(valueCol) >= F.col(loCol) && F.col(valueCol) < F.col(hiCol),
      joinType)

  /** Interval (point-in-range) join, the SCALE-SAFE spelling: a raw
    * `t BETWEEN start AND end` join has no equi-key, so Catalyst can only
    * plan BroadcastNestedLoop (fine for [[bandJoin]]'s tiny broadcast band
    * table, fatal for fact-to-fact). Here each interval EXPLODES to the
    * coarse time buckets it covers (`sequence(start DIV b, end DIV b)`)
    * and each point probes its ONE bucket — the join becomes a keyed
    * equi-join on the bucket with the exact range predicate carried in
    * the join condition, so it shuffles/broadcasts like any other keyed
    * join and every qualifying (point, interval) pair meets EXACTLY once
    * (a point has one bucket; an interval covers it once). `bucketTicks`
    * trades explode volume (≈ interval length / bucket + 1 rows per
    * interval) against bucket selectivity (points per bucket compared
    * against unrelated intervals); pick it near the typical interval
    * length. Inner join; both inputs keep all their columns. */
  def intervalJoin(points: DataFrame, ptsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketTicks: Long): DataFrame = {
    require(bucketTicks > 0, "bucketTicks must be > 0")
    val iv = intervals
      .where(F.col(startCol).isNotNull && F.col(endCol).isNotNull &&
        F.col(startCol) <= F.col(endCol))
      .withColumn("__bk", F.explode(F.expr(
        s"sequence($startCol DIV $bucketTicks, $endCol DIV $bucketTicks)")))
    points
      .where(F.col(ptsCol).isNotNull)
      .withColumn("__bk", F.expr(s"$ptsCol DIV $bucketTicks"))
      .join(iv, Seq("__bk"))
      .where(F.col(ptsCol) >= F.col(startCol) && F.col(ptsCol) <= F.col(endCol))
      .drop("__bk")
  }

  /** Streaming face of [[watermarkAudit]]: the per-channel event-time
    * frontier lives in the state store; each batch's arrivals fold
    * through it (sorted by the arrival key within the batch) and emit
    * (channel, arrival, lateness) rows — the same lateness the batch
    * audit assigns, incrementally. See
    * [[graft.streaming.StateStoreRunner.WatermarkAuditProcessor]].
    *
    * The intra-batch fold sorts by the arrival key in the SAME total
    * order the batch face's `orderBy(arrivalCol)` uses: integral /
    * date / timestamp arrival columns route through a Long-keyed
    * processor (numeric order — 9 before 10, not "10" before "9");
    * everything else sorts as a string, which equals the batch order
    * only when the column's lexicographic order IS its logical order
    * (e.g. zero-padded ids — the caller's contract for string keys). */
  def streamingLateness(stream: DataFrame, keyCol: String,
                        arrivalCol: String, tsCol: String,
                        ttl: org.apache.spark.sql.streaming.TTLConfig =
                          org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    // per-channel frontier state grows with the channel keyspace — ttl
    // evicts channels idle past the horizon (frontier restarts from
    // MinValue on re-admission, i.e. the channel's audit resets)
    val tm = graft.streaming.StateStoreRunner.ttlTimeMode(ttl)
    val om = org.apache.spark.sql.streaming.OutputMode.Update()
    // DATE and TIMESTAMP_NTZ reject CAST(... AS BIGINT) under ANSI
    // (DATATYPE_MISMATCH in Spark 4) — route DATE through unix_date
    // (days since epoch, its natural tick) and NTZ through the
    // TIMESTAMP cast (session-tz reinterpretation — monotonic, so the
    // fold order and lateness differences are unaffected) to the same
    // epoch-seconds ticks TIMESTAMP already uses.
    def longTicks(c: String): org.apache.spark.sql.Column =
      stream.schema(c).dataType match {
        case _: DateType         => F.unix_date(F.col(c)).cast("long")
        case _: TimestampNTZType => F.col(c).cast("timestamp").cast("long")
        case _                   => F.col(c).cast("long")
      }
    stream.schema(arrivalCol).dataType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: DateType | _: TimestampType | _: TimestampNTZType =>
        stream.select(F.col(keyCol).cast("string"),
            longTicks(arrivalCol), longTicks(tsCol))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.StateStoreRunner.WatermarkAuditProcessor[Long](ttl),
            tm, om)
          .toDF(keyCol, arrivalCol, "lateness")
      case _ =>
        stream.select(F.col(keyCol).cast("string"),
            F.col(arrivalCol).cast("string"), longTicks(tsCol))
          .as[(String, String, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.StateStoreRunner.WatermarkAuditProcessor[String](ttl),
            tm, om)
          .toDF(keyCol, arrivalCol, "lateness")
    }
  }

  /** Watermark audit — measure the corpus's actual event-time disorder
    * so the streaming watermark delay is chosen FROM DATA rather than
    * guessed: per key, walk events in arrival order (`arrivalCol`, e.g.
    * an ingest-assigned id) keeping the running max of event time; each
    * event's `lateness = running_max − ts` is how far behind the
    * frontier it arrived (0 = in order). Report one row per lateness
    * band (`bands` are inclusive upper bounds in tick units; band 0 is
    * the in-order mass, the last band is everything beyond the largest
    * bound): row count, rows_ppm, and the band's max lateness. A
    * watermark of delay d drops exactly the mass in bands above d —
    * this report IS that trade-off curve.
    *
    * Scale shape: one shuffle on the key into per-key windows (running
    * max is a single ordered pass), then a ≤|bands|+1-key aggregate;
    * all-integer tick arithmetic. */
  def watermarkAudit(df: DataFrame, keyCol: String, arrivalCol: String,
                     tsCol: String, bands: Seq[Long]): DataFrame = {
    require(bands.nonEmpty && bands == bands.sorted,
      s"bands must be non-empty ascending, got $bands")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(arrivalCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // band = #{bands < late} via the shared codegen-friendly indicator
    // sum (NULL late — e.g. a NULL event time — coalesces to band 0,
    // the filter(array) behavior this replaces)
    val bandExpr = Scale.indicatorBinExpr(bands, "__late", strict = true)
    val late = df
      .select(F.col(keyCol), F.col(arrivalCol),
        F.col(tsCol).cast("long").as("__ts"))
      .withColumn("__late", F.max("__ts").over(w) - F.col("__ts"))
      .select(F.expr(bandExpr).as("band"), F.col("__late"))
    val byBand = Lineage.cut(late.groupBy("band")
      .agg(F.count(F.lit(1)).as("n_rows"), F.max("__late").as("max_late")))
    val totals = byBand.agg(F.sum("n_rows").as("__tot"))
    byBand.crossJoin(F.broadcast(totals))
      .withColumn("rows_ppm", F.expr(
        """CAST(CAST(n_rows AS DECIMAL(38,0)) * 1000000
               DIV greatest(__tot, 1L) AS BIGINT)"""))
      .select("band", "n_rows", "rows_ppm", "max_late")
  }
}
