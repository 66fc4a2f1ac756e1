package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the closest right row at-or-before
  * (backward) or at-or-after (forward) its time on the same key. Spark has
  * no native operator; the naive range-join explodes. This is the scalable
  * composition:
  *
  *   1. tag and union both sides on (key, time);
  *   2. one window over (key) ordered by (time, side) — sides are numbered
  *      so the right row sorts INSIDE the frame at equal times, making the
  *      match inclusive;
  *   3. `last`/`first(value, ignoreNulls)` carries the matching right
  *      payload across the frame;
  *   4. keep only left rows.
  *
  * ONE shuffle on the key, no row multiplication, state = one window frame —
  * this is how the 100 TB version must look. Right-side ties on
  * (key, time) must be pre-deduplicated by the caller for determinism.
  */
object AsOfJoin {

  /** Backward (classic) as-of: the most recent right row with
    * `rightTime <= leftTime`. Right rows sort before left at equal times;
    * the frame is (unbounded preceding, current row); `last` picks the
    * latest.
    *
    * @param left      left frame
    * @param right     right frame
    * @param key       join-key column name present in both
    * @param leftTime  left ordering column (numeric/long, e.g. epoch µs)
    * @param rightTime right ordering column (same unit)
    * @param payload   right-side columns to carry (everything else dropped)
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String]): DataFrame =
    composed(left, right, key, leftTime, rightTime, payload, forward = false)

  /** Forward as-of: the EARLIEST right row with `rightTime >= leftTime`.
    * Executed as the BACKWARD composition over negated time: Spark runs
    * the (unbounded preceding, current row) frame incrementally in O(n)
    * per partition, while a (current row, unbounded following) frame
    * re-scans the partition remainder per row — O(n²) on a hot key. Under
    * `-t` order, "latest right at-or-before" is exactly "earliest right
    * at-or-after", including the tie case (right sorts inside the frame at
    * equal times either way). Time columns must be numeric (epoch
    * µs longs), which they are by contract. */
  def asOfForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String]): DataFrame =
    composed(left, right, key, leftTime, rightTime, payload, forward = true)

  /** Nearest as-of: the right row closest to the left time in EITHER
    * direction (backward ties win, so an exact-time match — unique per
    * (key, time) by the dedup contract — always resolves to itself). The
    * sensor-alignment / nearest-quote join.
    *
    * Executed over ONE key shuffle: both directional carries run on the
    * same unioned frame — the backward pass sorts (t asc, side) and the
    * forward pass (t desc, side), and since Window preserves hash
    * partitioning the second pass adds only a partition-local sort, never
    * an exchange. Both passes use the O(n)-per-partition running frame
    * (unbounded preceding → current row); the (current row → unbounded
    * following) frame that re-scans the partition tail per row never
    * appears. `rightTime` is carried automatically and emitted as
    * `asof_<rightTime>`; `payload` must not contain it. */
  def asOfNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(!payload.contains(rightTime), s"payload must not repeat $rightTime")
    val carry = rightTime +: payload
    val leftCols = left.columns.toSeq
    // Scratch names must be free of BOTH frames: withColumn on the right
    // frame silently replaces a same-named column, and if that name is also
    // carried the payload struct would capture the synthetic value.
    val taken = (leftCols ++ right.columns).toSet
    def free(base: String): String =
      Iterator.iterate(base)(_ + "_").dropWhile(taken.contains).next()
    val (kC, tC, sideC, rC, prevC, nextC) =
      (free("_k"), free("_t"), free("_side"), free("_r"), free("_rprev"), free("_rnext"))
    carry.foreach(p => require(!leftCols.contains(s"asof_$p"),
      s"output column 'asof_$p' already exists in the left frame"))
    val payloadType = StructType(carry.map(p =>
      StructField(p, right.schema(p).dataType, nullable = true)))
    // side 0 = right: sorts before left at equal times under BOTH (t asc,
    // side asc) and (t desc, side asc), so each directional running frame
    // includes the exact-time match
    val l = left
      .withColumn(tC, col(leftTime)).withColumn(sideC, lit(1))
      .select(Seq(col(key).as(kC), col(tC), col(sideC)) ++
        leftCols.map(col) :+ lit(null).cast(payloadType).as(rC): _*)
    val r = right
      .withColumn(tC, col(rightTime)).withColumn(sideC, lit(0))
      .select(Seq(col(key).as(kC), col(tC), col(sideC)) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(carry.map(col): _*).as(rC): _*)
    val wPrev = Window.partitionBy(col(kC)).orderBy(col(tC).asc, col(sideC).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(kC)).orderBy(col(tC).desc, col(sideC).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .select(Seq(col(kC), col(tC), col(sideC)) ++ leftCols.map(col) :+
        last(col(rC), ignoreNulls = true).over(wPrev).as(prevC) :+
        last(col(rC), ignoreNulls = true).over(wNext).as(nextC): _*)
    val lt = col(tC)
    val prevT = col(s"$prevC.$rightTime")
    val nextT = col(s"$nextC.$rightTime")
    val pickPrev = col(nextC).isNull ||
      (col(prevC).isNotNull && (lt - prevT) <= (nextT - lt))
    val best = when(pickPrev, col(prevC)).otherwise(col(nextC))
    carried.filter(col(sideC) === 1)
      .select(leftCols.map(col) ++
        carry.map(p => best.getField(p).as(s"asof_$p")): _*)
  }

  /** The tagged union the backward composition windows over: every left
    * and right row under collision-free internal (key, time, side, payload)
    * columns, right rows with side 0 so they sort before left rows at equal
    * times. Package-private so `join_asof_bucketed` can write it as a
    * bucketed, sorted layout and run [[carryFrom]] off the scan. Returns the
    * union, the internal column names, and the left columns the carry
    * emits. */
  private[graft] def taggedUnion(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String],
      forward: Boolean)
      : (DataFrame, (String, String, String, String), Seq[String]) = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns.toSeq
    // withColumn/select silently replace same-named columns, so the five
    // internal columns probe for collision-free names against BOTH frames
    // (withColumn on the right frame silently replaces same-named columns,
    // corrupting the carried payload), and the asof_ output names must be
    // free
    val taken = (leftCols ++ right.columns).toSet
    def free(base: String): String =
      Iterator.iterate(base)(_ + "_").dropWhile(taken.contains).next()
    val (kC, tC, sideC, rC) = (free("_k"), free("_t"), free("_side"), free("_r"))
    payload.foreach(p => require(!leftCols.contains(s"asof_$p"),
      s"output column 'asof_$p' already exists in the left frame"))
    // forward = backward over negated time (see asOfForward doc); from here
    // on the composition is uniformly "backward": running frame + last()
    val negate: Column => Column = if (forward) c => -c else identity
    // side numbering puts the right row INSIDE the frame at equal times:
    // the frame ends at current row, so right must sort first (0 vs 1)
    // The payload travels as ONE struct (non-null for every right row), so
    // first/last(_, ignoreNulls) carries the whole matching right row
    // atomically — a NULL payload VALUE in the matched row stays NULL, and
    // multiple payload columns can never mix values from different right
    // rows (per-column carry would do both).
    val payloadType = StructType(payload.map(p =>
      StructField(p, right.schema(p).dataType, nullable = true)))
    val l = left
      .withColumn(tC, negate(col(leftTime)))
      .withColumn(sideC, lit(1))
      .select(Seq(col(key).as(kC), col(tC), col(sideC)) ++
        leftCols.map(col) :+ lit(null).cast(payloadType).as(rC): _*)
    val r = right
      .withColumn(tC, negate(col(rightTime)))
      .withColumn(sideC, lit(0))
      .select(Seq(col(key).as(kC), col(tC), col(sideC)) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as(rC): _*)
    (l.unionByName(r), (kC, tC, sideC, rC), leftCols)
  }

  /** The carry phase over a [[taggedUnion]] (or anything
    * schema-identical, e.g. its bucketed+sorted materialization): one
    * running-frame window on the key, keep left rows, unpack the payload. */
  private[graft] def carryFrom(
      unioned: DataFrame,
      names: (String, String, String, String),
      leftCols: Seq[String],
      payload: Seq[String]): DataFrame = {
    val (kC, tC, sideC, rC) = names
    def freeBest(base: String): String =
      Iterator.iterate(base)(_ + "_").dropWhile(unioned.columns.contains).next()
    val bestC = freeBest("_rbest")
    val w = Window.partitionBy(col(kC)).orderBy(col(tC), col(sideC))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.select(
      (Seq(col(kC), col(tC), col(sideC)) ++ leftCols.map(col) :+
        last(col(rC), ignoreNulls = true).over(w).as(bestC)): _*)
    carried.filter(col(sideC) === 1)
      .select(leftCols.map(col) ++ payload.map(p => col(s"$bestC.$p").as(s"asof_$p")): _*)
  }

  private def composed(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String],
      forward: Boolean): DataFrame = {
    val (unioned, names, leftCols) =
      taggedUnion(left, right, key, leftTime, rightTime, payload, forward)
    carryFrom(unioned, names, leftCols, payload)
  }
}
