package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded source-snapshot generator for the CDC workloads.
  *
  * Three tables shaped like the TPC-H-style test data (lineitem with a
  * composite key, orders, events), each with a monotone `_v` version
  * column standing in for Postgres `xmin`. Change cycle `m` (1-based)
  * commits a change mix; snapshot `m` is the table after the first `m`
  * change cycles. Every row's state is a pure function of
  * (seed, table, key, m), so snapshots are generated independently and
  * the same seed always gives the same files.
  *
  * Poll cycles map onto snapshots through [[Schedule]]: an idle cycle
  * re-reads the previous snapshot (nothing committed).
  */
object CdcGen {

  /** Per-change-cycle mix, as shares of the table's current key count.
    * Updates hit keys in the newest `updateWindow` share of the key
    * space (1.0 = anywhere).
    */
  final case class Mix(insertShare: Double, updateShare: Double,
                       updateWindow: Double, deleteShare: Double)

  /** OLTP-shaped tail: new keys plus updates of recent rows, no deletes. */
  val Tail = Mix(insertShare = 0.003, updateShare = 0.005, updateWindow = 0.05, deleteShare = 0.0)
  /** Scattered churn: uniform updates and deletes over every key. */
  val Churn = Mix(insertShare = 0.0, updateShare = 0.005, updateWindow = 1.0, deleteShare = 0.002)

  final case class Table(name: String, pk: Seq[String], rows: Long, salt: Int)

  /** Base key counts: a tenth of the sf0.1 test tables' row counts. */
  def tables(scale: Double): Seq[Table] = Seq(
    Table("lineitem", Seq("l_orderkey", "l_linenumber"), (60000 * scale).toLong, 11),
    Table("orders", Seq("o_orderkey"), (15000 * scale).toLong, 23),
    Table("events", Seq("event_id"), (10000 * scale).toLong, 37))

  /** Every `idleEvery`-th poll cycle commits nothing. */
  final case class Schedule(idleEvery: Int) {
    def idle(cycle: Int): Boolean = cycle > 0 && cycle % idleEvery == 0
    /** Snapshot a poll cycle reads: the number of change cycles so far. */
    def snapshot(cycle: Int): Int = (1 to cycle).count(c => !idle(c))
  }

  /** What the gate compares a target against, plus the change volume. */
  final case class Expect(rows: Long, h1: Long, h2: Long, changed: Long, deleted: Long)

  /** Order-independent content hash: two independent 31-bit row hashes
    * summed (no overflow at these sizes), plus the row count.
    */
  def hashAgg(cols: Seq[Column]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)).as("h1"),
    coalesce(sum(pmod(hash(cols: _*).cast("long"), lit(2147483647L))), lit(0L)).as("h2"))

  /** 64-bit hash of (seed, table, key, cycle, purpose). */
  private def h(seed: Long, t: Table, key: Column, m: Column, purpose: Int): Column =
    xxhash64(lit(seed), lit(t.salt), key, m, lit(purpose))

  private def unit(x: Column): Column = pmod(x, lit(1000000L)).cast("double") / 1e6

  private def bits(x: Column, shift: Int, mod: Long): Column =
    pmod(shiftrightunsigned(x, shift), lit(mod))

  private def pick(x: Column, shift: Int, values: String*): Column =
    element_at(array(values.map(lit): _*), (bits(x, shift, values.size.toLong) + 1).cast("int"))

  def keysAt(t: Table, mix: Mix, m: Int): Long =
    t.rows + m * math.round(t.rows * mix.insertShare)

  /** Every snapshot 0..`changes` of table `t` in one frame: one row per
    * (key, snapshot) the key exists in, with the snapshot number in
    * `snap` and markers of what that snapshot's cycle did to the row:
    * `_del` (deleted by it; the row is not in the snapshot) and
    * `_ins_upd` (inserted or updated by it).
    */
  private def frame(spark: SparkSession, seed: Long, t: Table, mix: Mix,
                    changes: Int): DataFrame = {
    val perCycle = math.round(t.rows * mix.insertShare)
    val i = col("id")
    val m = col("snap")
    val insertedAt =
      if (perCycle == 0) lit(0)
      else when(i < t.rows, lit(0))
        .otherwise(((i - lit(t.rows)) / lit(perCycle)).cast("long").cast("int") + 1)
    def updated(j: Int): Column = {
      val windowLo = math.floor(keysAt(t, mix, j - 1) * (1.0 - mix.updateWindow)).toLong
      insertedAt < lit(j) && i >= lit(windowLo) &&
        unit(h(seed, t, i, lit(j), 1)) < lit(mix.updateShare / mix.updateWindow)
    }
    def deleted(j: Int): Column =
      if (mix.deleteShare <= 0) lit(false)
      else insertedAt < lit(j) && unit(h(seed, t, i, lit(j), 2)) < lit(mix.deleteShare)
    val lastUpdate = greatest((1 to changes).map(j => when(updated(j) && lit(j) <= m, lit(j))) :+
      lit(null).cast("int"): _*)
    val goneBefore = (1 to changes).map(j => deleted(j) && lit(j) < m).foldLeft(lit(false))(_ || _)
    val delNow = (1 to changes).map(j => deleted(j) && lit(j) === m).foldLeft(lit(false))(_ || _)
    val keysAtSnap = (1 to changes).foldLeft(when(m === 0, lit(keysAt(t, mix, 0)))) { (e, j) =>
      e.when(m === j, lit(keysAt(t, mix, j)))
    }
    val base = spark.range(0, keysAt(t, mix, changes), 1, 4)
      .withColumn("snap", explode(sequence(lit(0), lit(changes))))
      .filter(i < keysAtSnap && insertedAt <= m && !goneBefore)
      .select(i, m, insertedAt.as("_ins"), lastUpdate.as("_upd"), delNow.as("_del"))
      .withColumn("_last", coalesce(col("_upd"), col("_ins")))
      .withColumn("_ins_upd", col("_last") === m && m > 0)
    val r = h(seed, t, col("id"), col("_last"), 3)
    val v = (col("_last").cast("long") * 1000000L + bits(r, 50, 1000L) + 1L).as("_v")
    val payload: Seq[Column] = t.name match {
      case "lineitem" => Seq(
        (col("id") / 4).cast("long").plus(1L).as("l_orderkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (bits(r, 0, 20000L) + 1).as("l_partkey"),
        (bits(r, 15, 1000L) + 1).as("l_suppkey"),
        (bits(r, 25, 50L) + 1).cast("double").as("l_quantity"),
        (bits(r, 5, 10000000L).cast("double") / 100.0).as("l_extendedprice"),
        (bits(r, 31, 11L).cast("double") / 100.0).as("l_discount"),
        (bits(r, 35, 9L).cast("double") / 100.0).as("l_tax"),
        pick(r, 39, "A", "N", "R").as("l_returnflag"),
        pick(r, 41, "O", "F").as("l_linestatus"),
        date_add(lit(java.sql.Date.valueOf("1992-01-01")), bits(r, 43, 2500L).cast("int")).as("l_shipdate"))
      case "orders" => Seq(
        col("id").as("o_orderkey"),
        (bits(r, 0, 15000L) + 1).as("o_custkey"),
        pick(r, 16, "O", "F", "P").as("o_orderstatus"),
        (bits(r, 20, 50000000L).cast("double") / 100.0).as("o_totalprice"),
        date_add(lit(java.sql.Date.valueOf("1992-01-01")), bits(r, 44, 2400L).cast("int")).as("o_orderdate"),
        pick(r, 56, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
      case _ => Seq(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 7L + bits(r, 0, 7L)).as("ts"),
        (bits(r, 4, 2000L) + 1).as("user_id"),
        pick(r, 16, "view", "click", "purchase", "error").as("event_type"),
        (bits(r, 20, 100000L).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\": "), bits(r, 40, 100L).cast("string"), lit("}")).as("props"))
    }
    base.select(payload ++ Seq(v, m, col("_ins_upd"), col("_del")): _*)
  }

  /** Writes snapshots 0..`changes` of `t` under `dir` (one `snap=<m>`
    * directory each) and returns each snapshot's gate figures: row
    * count and content hash over the written columns, and the rows its
    * cycle changed.
    */
  def writeSnapshots(spark: SparkSession, seed: Long, t: Table, mix: Mix, changes: Int,
                     dir: String): Map[Int, Expect] = {
    val f = frame(spark, seed, t, mix, changes).cache()
    try {
      val cols = f.columns.takeWhile(_ != "snap").toSeq
      f.filter(!col("_del")).select((cols :+ "snap").map(col): _*)
        .write.mode("overwrite").partitionBy("snap").parquet(dir)
      val live = !col("_del")
      f.groupBy("snap").agg(
          sum(when(live, 1L).otherwise(0L)).as("n"),
          sum(when(live, pmod(xxhash64(cols.map(col): _*), lit(2147483647L))).otherwise(0L)).as("h1"),
          sum(when(live, pmod(hash(cols.map(col): _*).cast("long"), lit(2147483647L)))
            .otherwise(0L)).as("h2"),
          sum(when(col("_ins_upd") || col("_del"), 1L).otherwise(0L)).as("c"),
          sum(when(col("_del"), 1L).otherwise(0L)).as("d"))
        .collect().map { r =>
          r.getInt(0) -> Expect(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        }.toMap
    } finally f.unpersist()
  }
}
