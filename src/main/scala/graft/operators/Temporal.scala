package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins a point-lookup store cannot express but an event pipeline
  * constantly needs: the as-of join ("latest right row at or before each
  * left row") and the point-in-interval range join. Neither exists as a
  * Spark built-in; the naive formulations (a θ-join on `r.ts <= l.ts`, a
  * raw interval predicate) plan as BroadcastNestedLoop/cartesian — exactly
  * what [[graft.PlanGuardSpec]]'s plan guard forbids. Both operators here
  * compile to ONE equi-shuffle instead.
  *
  * As-of plan shape (the 100 TB story): tag both sides, union, ONE shuffle
  * on the join keys, one sort by (instant, side), then
  * `last(_rv, ignoreNulls)` over an unbounded-preceding frame fills every
  * left row with the most recent right payload. Cost is a sort-merge pass
  * over |L|+|R| rows — no per-row probe, no quadratic candidate set, and
  * skew lands on the same AQE machinery as any keyed shuffle.
  *
  * Range-join plan shape: bucket instants by a caller-chosen width, explode
  * each interval to the buckets it overlaps (ceil(len/width)+1 rows), then
  * equi-join on (bucket) and re-check the exact predicate. Candidate volume
  * is Σ_bucket |points_b|·|intervals_b| — bounded by the bucket width, never
  * |points|·|intervals|.
  */
object Temporal {

  /** Exact floor-division for long instants: subtract the non-negative
    * `pmod` remainder, then integral-divide — `x - pmod(x, w)` is an exact
    * multiple of `w`, so truncating `div` equals floor division for the
    * whole long range (a double `/`+`floor` path would misround above
    * 2^53, i.e. post-2255 micros). */
  private def floorDiv(x: Column, w: Long): Column =
    call_function("div", x - pmod(x, lit(w)), lit(w))

  /** As-of join: for each `left` row, the single `right` row with the
    * greatest `tsCol` satisfying `right.ts <= left.ts` (or `<` when
    * `inclusive = false`), per join key — or, with `forward = true`, the
    * SMALLEST right instant satisfying `right.ts >= left.ts` (`>` when
    * strict): "next event at-or-after" instead of "latest at-or-before".
    * Left-outer semantics: unmatched left rows keep null right payload.
    *
    * Contract: both frames carry `keys` and `tsCol`; `tsCol` must be an
    * exact orderable instant — epoch micros as LONG, not a double. Right
    * payload = every other right column, carried through under its own
    * name (must not collide with a left column); the matched right instant
    * itself lands in `asofTsCol`. Ties among right rows at one instant
    * resolve to the greatest payload struct in either direction (callers
    * wanting a specific winner pre-aggregate the right side to unique
    * (keys, ts) — the pack queries do).
    *
    * The forward plan is the exact mirror of the backward one — same single
    * keyed shuffle, same incremental unbounded-PRECEDING frame — with the
    * instant ordering flipped to descending. (Mirroring the frame to
    * unbounded-following instead would look symmetric but Spark re-scans
    * that frame per row: quadratic on a hot key.)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, inclusive: Boolean = true,
               asofTsCol: String = "asof_ts",
               forward: Boolean = false): DataFrame = {
    val fixed = keys :+ tsCol
    val payload = right.columns.filterNot(fixed.contains).toSeq
    val leftOnly = left.columns.filterNot(fixed.contains).toSeq
    val clash = payload.toSet intersect left.columns.toSet
    require(clash.isEmpty, s"right payload collides with left columns: $clash")
    require(!left.columns.contains(asofTsCol), s"left already has $asofTsCol")

    val rv = struct(col(tsCol).as(asofTsCol) +: payload.map(col): _*)
    val rvType = right.select(rv).schema.head.dataType
    // Right rows sort BEFORE left rows at an equal instant for inclusive
    // semantics — the window then sees the equal-instant payload — and
    // AFTER them for strict. Identical rule in both directions, because the
    // forward mirror flips the INSTANT ordering, not the frame.
    val (sideR, sideL) = if (inclusive) (0, 1) else (1, 0)
    val lRows = left.select(
      fixed.map(col) ++ Seq(lit(sideL).as("_side"), lit(null).cast(rvType).as("_rv")) ++
        leftOnly.map(col): _*)
    val rRows = right.select(
      fixed.map(col) ++ Seq(lit(sideR).as("_side"), rv.as("_rv")) ++
        leftOnly.map(n => lit(null).cast(left.schema(n).dataType).as(n)): _*)

    // Both directions keep the SAME [unbounded-preceding, current] frame and
    // `last(ignoreNulls)` — Spark evaluates that frame incrementally (O(n)
    // per partition), whereas an unbounded-FOLLOWING frame is recomputed per
    // row (O(n²) on a hot key). Forward simply walks instants descending, so
    // "last right row seen" is the smallest instant ≥ the left row's; ties
    // at one instant resolve to the greatest payload struct either way
    // (`last` over ascending `_rv` within the equal-(ts, side) run).
    val ord = if (forward) col(tsCol).desc else col(tsCol).asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord, col("_side"), col("_rv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lRows.unionByName(rRows)
      .withColumn("_m", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === sideL)
      .select(fixed.map(col) ++ leftOnly.map(col) ++
        (asofTsCol +: payload).map(p => col(s"_m.$p").as(p)): _*)
  }

  /** Point-in-interval join: every (point, interval) pair with equal
    * `keys` and `start <= point < end` (half-open), as an inner join
    * carrying all columns of both frames. `pointCol`/`startCol`/`endCol`
    * are exact LONG instants; empty intervals (`end <= start`) match
    * nothing.
    *
    * Scale levers, in order of importance:
    *   - `keys`: candidates are bounded per (key, bucket) — ALWAYS pass
    *     the natural entity key when one exists. A keyless interval join
    *     over a table whose interval density grows with the corpus has
    *     quadratically growing TRUE output (every point matches every
    *     concurrent interval) — no plan can outrun the semantics.
    *   - `bucketWidth`: each interval explodes to `len/bucketWidth + 1`
    *     bucket rows, re-checked exactly — pick it near the typical
    *     interval length so the explosion stays O(1) per interval while
    *     buckets stay selective.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
                intervals: DataFrame, startCol: String, endCol: String,
                bucketWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val clash = (points.columns.toSet intersect intervals.columns.toSet) -- keys
    require(clash.isEmpty, s"point/interval column collision: $clash")
    require(keys.forall(points.columns.contains) && keys.forall(intervals.columns.contains),
      s"keys $keys must exist on both sides")
    val iv = intervals.filter(col(endCol) > col(startCol))
      .withColumn("_b",
        explode(sequence(floorDiv(col(startCol), bucketWidth),
          floorDiv(col(endCol) - 1, bucketWidth))))
    points.withColumn("_b", floorDiv(col(pointCol), bucketWidth))
      .join(iv, "_b" +: keys)
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("_b")
  }

  /** Time-series densification + forward fill — resample an irregular event
    * stream onto a fixed per-key grid. Input `obs` must already be one row
    * per (keys, bucket) with `bucketCol` a long on `step`-aligned values
    * (the output of a bucketed aggregation); output is one row per key per
    * grid step from that key's first to last observation, with each value
    * column carried forward from the most recent observed bucket and an
    * `observed` flag marking real vs filled rows.
    *
    * Plan shape: the spine is a per-key `sequence` explode (linear in
    * OUTPUT rows, computed from a tiny per-key min/max aggregate — no
    * driver-side loop), the join back to observations is an equi-join on
    * (keys, bucket), and the fill is `last(ignore nulls)` over a window
    * partitioned by key — one running-state pass per key partition, no
    * per-row rescans (unbounded-PRECEDING frames are incremental in
    * Spark). At 100 TB the only fan-out is the grid itself; gaps per key
    * are bounded by the key's own observation span, so output stays
    * proportional to keys × span/step regardless of event volume. */
  def resampleFill(obs: DataFrame, keys: Seq[String], bucketCol: String,
                   step: Long, valueCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "resampleFill needs at least one key column")
    require(step > 0, "step must be positive")
    require(valueCols.nonEmpty, "resampleFill needs at least one value column")
    val keyCols = keys.map(col)
    val spine = obs.groupBy(keyCols: _*)
      .agg(min(col(bucketCol)).as("_lo"), max(col(bucketCol)).as("_hi"))
      .select(keyCols :+
        explode(sequence(col("_lo"), col("_hi"), lit(step))).as(bucketCol): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*).orderBy(col(bucketCol))
      .rowsBetween(Long.MinValue, 0)
    val joined = spine.join(obs, keys :+ bucketCol, "left")
    val filled = valueCols.foldLeft(
      joined.withColumn("observed", col(valueCols.head).isNotNull)) {
      (df, v) => df.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    }
    filled.select((keys :+ bucketCol :+ "observed").map(col) ++
      valueCols.map(col): _*)
  }

  /** Snapshot diff — the CDC "what changed between T1 and T2" audit over an
    * append-only change log: for each key, compare the latest `attrCol` at
    * instant ≤ `t1` against the latest at ≤ `t2` and emit the keys whose
    * state differs, classified `added` (absent at t1) or `changed`. A
    * `removed` class cannot arise from an append-only log (a t1 state
    * persists through t2); pipelines with deletions model them as tombstone
    * attribute values, which then surface as `changed`.
    *
    * ONE shuffle total: both snapshot states come out of a single grouped
    * aggregate — `max_by` over the (instant, tie…) total order, gated per
    * snapshot with a `when` (max_by skips rows whose ordering key is null,
    * so the gate excludes rows without a second pass). The two-CTE
    * formulation every warehouse writes (two window scans + a full outer
    * join) shuffles the log twice and joins; this is the same answer at a
    * third of the movement, and the oracle pins the equivalence. */
  def snapshotDiff(log: DataFrame, keys: Seq[String], attrCol: String,
                   instantCol: String, t1: Long, t2: Long,
                   tieCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(t1 < t2, s"t1 ($t1) must precede t2 ($t2)")
    val ord = struct(col(instantCol) +: tieCols.map(col): _*)
    def stateAt(cut: Long): Column =
      max_by(when(col(instantCol) <= cut, col(attrCol)),
        when(col(instantCol) <= cut, ord))
    log.filter(col(instantCol) <= t2)
      .groupBy(keys.map(col): _*)
      // `_at_t1` carries key-presence SEPARATELY from the state value: a
      // max_by over a null-valued t1 state yields a null old_state that is
      // otherwise indistinguishable from key-absent-at-t1, so a null
      // tombstone state that later changes would misreport as `added`.
      .agg(stateAt(t1).as("old_state"), stateAt(t2).as("new_state"),
        max(when(col(instantCol) <= t1, lit(1)).otherwise(lit(0)))
          .as("_at_t1"))
      .filter(!(col("old_state") <=> col("new_state")))
      .select(keys.map(col) ++ Seq(
        when(col("_at_t1") === 0, lit("added"))
          .otherwise(lit("changed")).as("change"),
        col("old_state"), col("new_state")): _*)
  }

  /** SCD-2 interval build: collapse a change log into validity intervals.
    * For each key, order events by (`instantCol`, `tieCols`…), keep only
    * rows where `attrCol` CHANGES (run-length compression of consecutive
    * equal states), and emit `(keys…, state, valid_from, valid_to)` where
    * `valid_to` is the next change's instant (null = still current) — the
    * slowly-changing-dimension type-2 table every warehouse derives from
    * an upsert/CDC stream.
    *
    * Plan shape: both window passes partition on the SAME keys, so Catalyst
    * plans ONE exchange; the second sort runs over the (much smaller)
    * change-row subset. The tie columns make the ordering total, so the
    * interval set is deterministic even when two events share an instant
    * (the intermediate interval is then zero-length — preserved, not
    * dropped, because downstream as-of lookups rely on the state at
    * exactly that instant). */
  def scd2(log: DataFrame, keys: Seq[String], attrCol: String,
           instantCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    val keyCols = keys.map(col)
    val order = col(instantCol) +: tieCols.map(col)
    val wAll = Window.partitionBy(keyCols: _*).orderBy(order: _*)
    val changes = log
      .withColumn("_prev", lag(col(attrCol), 1).over(wAll))
      // Window expressions must be projected before they can gate a filter.
      // First row per key (_first) always opens an interval; after that a
      // change is any non-null-safe-equal transition (null-safe <=> keeps
      // null→null runs collapsed).
      .withColumn("_first", row_number().over(wAll) === 1)
      .filter(col("_first") || !(col("_prev") <=> col(attrCol)))
    val wCh = Window.partitionBy(keyCols: _*).orderBy(order: _*)
    changes.select(keyCols ++ Seq(col(attrCol).as("state"),
        col(instantCol).as("valid_from"),
        lead(col(instantCol), 1).over(wCh).as("valid_to")): _*)
  }

  /** Interval CONCURRENCY profile — "how many sessions were open at once,
    * per day": the classic sweep line (+1 at start, −1 at end, running
    * sum), distributed the only way a sweep line scales: the running sum
    * is day-PARTITIONED (each day's window is bounded by its own event
    * count), and cross-day state is re-introduced as per-day OFFSETS from
    * a second, days-sized prefix window — the [[graft.operators.Numbering]]
    * two-pass discipline, never one global ordered partition over all
    * interval endpoints.
    *
    * Intervals are CLOSED (`[start, end]`, micros): at a shared instant
    * the start sorts before the end (`delta DESC`), so a session ending
    * exactly when another starts overlaps it. Determinism under ties:
    * within a run of equal `(us, delta)` rows the prefix-value SET is the
    * same whatever their order, so the per-day max is partition-order
    * independent. A day's maximum includes its start-of-day state
    * (`offset + greatest(max prefix, 0)`) — a day of pure endings still
    * reports the concurrency it opened with. Days with no endpoints are
    * absent (their concurrency is the previous day's closing state).
    *
    * Output: (day — epoch days, max_concurrent, n_started). */
  def concurrencyProfile(intervals: DataFrame, startCol: String,
                         endCol: String): DataFrame = {
    val DayUs = 86400000000L
    val deltas = intervals
      .select(col(startCol).as("us"), lit(1L).as("delta"))
      .unionByName(intervals.select(col(endCol).as("us"), lit(-1L).as("delta")))
      .withColumn("day", expr(s"us div $DayUs"))
    val wDay = Window.partitionBy("day")
      .orderBy(col("us").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = deltas
      .withColumn("_run", sum("delta").over(wDay))
      .groupBy("day")
      .agg(max("_run").as("_max_run"), sum("delta").as("_net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_started"))
    // Day-offset pass: cumulative net of STRICTLY PRIOR days, over the
    // days-sized aggregate (one partition of ≤ #days rows — an index
    // artifact, like Numbering's per-partition counts).
    val wPrior = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("_offset", coalesce(sum("_net").over(wPrior), lit(0L)))
      .select(col("day"),
        (col("_offset") + greatest(col("_max_run"), lit(0L)))
          .as("max_concurrent"),
        col("n_started"))
  }
}
