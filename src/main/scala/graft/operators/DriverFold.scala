package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-fold route shared by the size-routed graph operators
  * ([[Graph]]) and [[Dedup.connectedComponents]]: below an edge bound
  * the operator's fixed-round recurrence runs as one sequential fold
  * over primitive arrays on the driver instead of a chain of per-round
  * join/aggregate/checkpoint jobs, whose fixed cost dominates at
  * sub-second scale. Above the bound every operator runs its
  * declarative plan, the shape that survives any scale. This object
  * owns the three steps every kernel shares; the operators keep only
  * the arithmetic and their own admission rules.
  *
  * Probe and collect are ONE bounded execution ([[collect]]):
  * `limit(bound + 1).collect()` short-circuits the scan once bound+1
  * rows are gathered, so at most bound+1 rows ever reach the driver.
  * The guard therefore holds even for a non-deterministic source,
  * whose separate probe count could disagree with a second collect,
  * and an over-bound input pays no extra pass. The bound counts RAW
  * rows, and raw ≥ distinct: operators that dedup do it on the
  * driver, in dense-id space, after the guard has admitted the rows
  * ([[index]]), so a duplicate-heavy input routes conservatively to
  * the declarative plan, whose own distinct handles it at any scale.
  * Dense ids fit an Int because an admitted list has at most
  * 2·bound endpoints. */
private[operators] object DriverFold {

  /** An admitted edge list in dense-id space: `nodes` holds the
    * distinct endpoint ids in ascending order (dense id = position,
    * so dense order IS id order), and edge i runs `eu(i) → ev(i)`. */
  final case class Dense(nodes: Array[Long], eu: Array[Int], ev: Array[Int])

  /** The bounded probe-collect: every column of `frame` as one
    * primitive long array, or None — without running a job — when
    * `bound <= 0`, and None when the frame holds more than `bound`
    * rows or a null in any column (null endpoints are defined by the
    * declarative plans' join semantics, which a kernel does not
    * replay). The collected rows are converted at once and dropped;
    * no kernel sees them. */
  def collect(frame: DataFrame, bound: Int): Option[Array[Array[Long]]] = {
    if (bound <= 0) return None
    val rows = frame.limit(bound + 1).collect()
    if (rows.length > bound || rows.exists(_.anyNull)) None
    else Some(Array.tabulate(frame.columns.length)(c => rows.map(_.getLong(c))))
  }

  /** [[collect]] of a two-column `(a, b)` edge frame, then [[index]]. */
  def edges(pairs: DataFrame, bound: Int, dropDup: Boolean): Option[Dense] =
    collect(pairs, bound).map(c => index(c(0), c(1), dropDup))

  /** Dense-id index of the edge list `(a(i), b(i))`: the endpoint
    * universe sorts into `nodes`, and with `dropDup` each pair encodes
    * as one long `(denseA << 32) | denseB` whose sort-and-unique drops
    * duplicate pairs (result in ascending (a, b) order); without it
    * the pairs keep their row order, multi-edges and self-loops
    * included. Primitive sorts only — no boxing, no per-pair
    * allocation, O(m log m). */
  private def index(a: Array[Long], b: Array[Long], dropDup: Boolean): Dense = {
    val nodes = sortUnique(a ++ b)
    val m = a.length
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    var i = 0
    while (i < m) {
      eu(i) = java.util.Arrays.binarySearch(nodes, a(i))
      ev(i) = java.util.Arrays.binarySearch(nodes, b(i))
      i += 1
    }
    if (!dropDup) return Dense(nodes, eu, ev)
    val enc = new Array[Long](m)
    i = 0
    while (i < m) { enc(i) = (eu(i).toLong << 32) | (ev(i).toLong & 0xffffffffL); i += 1 }
    val pairs = sortUnique(enc)
    Dense(nodes, pairs.map(p => (p >>> 32).toInt), pairs.map(_.toInt))
  }

  /** Sorts `xs` in place and returns its distinct values, ascending. */
  private def sortUnique(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var k = 0
    var i = 0
    while (i < xs.length) {
      if (i == 0 || xs(i) != xs(i - 1)) { xs(k) = xs(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, k)
  }

  /** Per-node output: equal-length long arrays, one per named column
    * (the node ids among them), broadcast once and read back by a
    * distributed `range(0, n)` map — the result is a regular
    * partitioned frame, never a driver-built local relation. */
  def perNode(spark: SparkSession, columns: (String, Array[Long])*): DataFrame = {
    val schema = StructType(columns.map { case (name, _) =>
      StructField(name, LongType, nullable = false) })
    val bc = spark.sparkContext.broadcast(columns.map(_._2).toArray)
    spark.range(0, columns.head._2.length.toLong).as(Encoders.scalaLong)
      .map(i => Row.fromSeq(bc.value.map(_(i.toInt)).toSeq))(Encoders.row(schema))
  }
}
