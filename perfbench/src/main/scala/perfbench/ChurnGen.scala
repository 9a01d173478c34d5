package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs for the store-churn workload, and the model that says what
  * the fact table must hold after each commit.
  *
  * The fact table is orders-shaped; its customer keys run 5% past the
  * customer table so a left join has unmatched rows. Churn commits come in
  * three kinds (append, merge upsert, delete) and two size classes (small
  * ~0.1% of the fact rows, large ~5%), in one fixed rotation, so every run
  * holds the same sequence of kinds and classes and the seed moves only
  * the rows. */
object ChurnGen {

  final case class Params(factRows: Int = 150000, customers: Int = 15000,
      smallFrac: Double = 0.001, largeFrac: Double = 0.05)

  final case class Order(key: Long, cust: Long, status: String, prio: Int,
      qty: Long, cents: Long, day: Int, comment: String) {
    def checksum: Long = key * 31 + qty * 7 + cents
    def row: Row = Row(key, cust, status, prio, qty, cents,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)), comment)
  }

  val factSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_status", StringType), StructField("o_prio", IntegerType),
    StructField("o_qty", LongType), StructField("o_cents", LongType),
    StructField("o_date", DateType), StructField("o_comment", StringType)))

  /** SQL of the model's checksum over the fact columns. */
  val checksumSql = "o_orderkey * 31 + o_qty * 7 + o_cents"

  /** The filtered scan's predicate, in SQL and as the model applies it. */
  val filterSql = "o_status = 'F' AND o_qty > 25"
  def filterRow(o: Order): Boolean = o.status == "F" && o.qty > 25

  private val statuses = Array("O", "F", "P")
  private val words = Array("quick", "regular", "final", "pending", "bold", "ironic",
    "express", "careful", "silent", "even")

  def order(rng: scala.util.Random, key: Long, p: Params): Order =
    Order(key, rng.nextInt((p.customers * 1.05).toInt).toLong, statuses(rng.nextInt(3)),
      1 + rng.nextInt(5), 1 + rng.nextInt(50), 100000 + rng.nextInt(49900000).toLong,
      9131 + rng.nextInt(2400), // 1995-01-01 plus up to 6.5 years
      Seq.fill(2 + rng.nextInt(4))(words(rng.nextInt(words.length))).mkString(" "))

  def facts(seed: Long, p: Params): IndexedSeq[Order] = {
    val rng = new scala.util.Random(seed)
    (0 until p.factRows).map(i => order(rng, i.toLong, p))
  }

  def customers(spark: SparkSession, seed: Long, p: Params): DataFrame = {
    val rng = new scala.util.Random(seed ^ 0x5eed)
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rows = (0 until p.customers).map(i =>
      Row(i.toLong, rng.nextInt(25), segs(rng.nextInt(segs.length))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_nationkey", IntegerType),
      StructField("c_segment", StringType))))
  }

  def nations(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)), 1), StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))))

  def frame(spark: SparkSession, rows: Seq[Order], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.row), slices), factSchema)

  sealed trait Commit { def kind: String; def rows: Int }
  final case class Append(orders: Seq[Order]) extends Commit {
    def kind = "append"; def rows: Int = orders.size
  }
  final case class Merge(orders: Seq[Order]) extends Commit {
    def kind = "merge"; def rows: Int = orders.size
  }
  /** Deletes the live keys in [lo, hi). */
  final case class Delete(lo: Long, hi: Long, rows: Int) extends Commit { def kind = "delete" }

  /** The fact table as it must be: live rows by key, plus the next new key. */
  final class Model(init: Seq[Order]) {
    private val live = new java.util.TreeMap[Long, Order]()
    init.foreach(o => live.put(o.key, o))
    private var nextKey = if (init.isEmpty) 0L else init.map(_.key).max + 1

    def count: Long = live.size.toLong
    def checksum: Long = live.values.asScala.map(_.checksum).sum
    def filtered: (Long, Long) = {
      val f = live.values.asScala.filter(filterRow)
      (f.size.toLong, f.map(_.checksum).sum)
    }

    /** Draws a commit of `kind` with about `n` rows from the live state. */
    def draw(rng: scala.util.Random, kind: String, n: Int, p: Params): Commit = kind match {
      case "append" =>
        val out = (0 until n).map(i => order(rng, nextKey + i, p)); Append(out)
      case "merge" => // half updates of live keys, half inserts of new keys
        val keys = live.keySet.asScala.toIndexedSeq
        val upd = Seq.fill(n / 2)(keys(rng.nextInt(keys.size))).distinct
          .map(k => order(rng, k, p))
        Merge(upd ++ (0 until n - n / 2).map(i => order(rng, nextKey + i, p)))
      case "delete" => // a range of n live keys starting at a random live key
        val keys = live.keySet.asScala.toIndexedSeq
        val from = rng.nextInt(math.max(1, keys.size - n))
        val lo = keys(from)
        val hi = if (from + n < keys.size) keys(from + n) else keys.last + 1
        Delete(lo, hi, live.subMap(lo, hi).size)
    }

    def apply(c: Commit): Unit = c match {
      case Append(os) => os.foreach(o => live.put(o.key, o)); bump(os)
      case Merge(os) => os.foreach(o => live.put(o.key, o)); bump(os)
      case Delete(lo, hi, _) => live.subMap(lo, hi).clear()
    }
    private def bump(os: Seq[Order]): Unit =
      if (os.nonEmpty) nextKey = math.max(nextKey, os.map(_.key).max + 1)
  }

  /** The endless (kind, class) sequence of churn commits: all six pairs,
    * every six cycles. */
  def plan: Iterator[(String, String)] =
    Iterator.continually(Seq("merge", "delete", "append")).flatten
      .zip(Iterator.continually(Seq("large", "small")).flatten)
}
