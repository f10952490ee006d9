package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** An orders-shaped row (TPC-H `orders` plus a region guard column),
  * generated from a seed rather than read from disk. */
final case class Order(key: Long, cust: Long, status: String, cents: Long,
    day: Int, prio: String, region: Int, comment: String) {
  /** Canonical text of the row; the model and the table both hash it. */
  def line: String = s"$key|$cust|$status|$cents|${java.time.LocalDate.ofEpochDay(day)}|$prio|$region|$comment"
  def row: Row = Row(key, cust, status, cents, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)), prio, region, comment)
  /** Bytes of the row as a user hands it over (fixed-width numbers, text as UTF-8). */
  def userBytes: Long = 8 + 8 + status.length + 8 + 4 + prio.length + 4 + comment.length
}

object Orders {
  val columns: Seq[(String, String)] = Seq(
    "o_orderkey" -> "bigint", "o_custkey" -> "bigint", "o_orderstatus" -> "varchar(1)",
    "o_totalcents" -> "bigint", "o_orderdate" -> "date", "o_orderpriority" -> "varchar(15)",
    "o_region" -> "int", "o_comment" -> "varchar(79)")
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalcents", LongType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_region", IntegerType), StructField("o_comment", StringType)))
  val Statuses = Vector("F", "O", "P")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = 25
  val Customers = 15000L
  private val Words = Vector("carefully", "final", "deposits", "sleep", "quickly", "ironic",
    "packages", "haggle", "furiously", "regular", "accounts", "blithely", "pending", "requests",
    "express", "theodolites", "slyly", "bold", "instructions", "wake")
  private val Day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay.toInt

  def gen(rng: java.util.Random, key: Long): Order = {
    val words = 2 + rng.nextInt(8)
    val comment = (0 until words).map(_ => Words(rng.nextInt(Words.size))).mkString(" ").take(79)
    Order(key, 1 + (rng.nextLong() & Long.MaxValue) % Customers, Statuses(rng.nextInt(3)),
      100000 + rng.nextInt(50000000), Day0 + rng.nextInt(2400), Priorities(rng.nextInt(5)),
      rng.nextInt(Regions), comment)
  }

  /** Row `i` of the base table for `seed`: a pure function, so executors
    * can generate the table while the driver builds the same model. Keys
    * are sparse (4i+1 … 4i+3), like TPC-H's. */
  def at(seed: Long, i: Long): Order = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + i)
    gen(rng, 4 * i + 1 + rng.nextInt(3))
  }

  /** Rows [from, until) of the base table, generated on the executors. */
  def baseDf(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(it => it.map(i => at(seed, i).row))(org.apache.spark.sql.Encoders.row(schema))

  /** A changed version of `o` (same key). */
  def mutate(rng: java.util.Random, o: Order): Order =
    o.copy(status = Statuses(rng.nextInt(3)), cents = 100000 + rng.nextInt(50000000),
      prio = Priorities(rng.nextInt(5)))

  def df(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.row): _*), schema)

  def lineOf(r: Row): String =
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getLong(3)}|${r.getDate(4).toLocalDate}|${r.getString(5)}|${r.getInt(6)}|${r.getString(7)}"

  /** Order-independent digest of a set of row lines. */
  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.toArray.sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The table as a plain in-memory map, with the store's keyed-write
  * semantics replayed on it; every operation's expected effect comes
  * from here. Keeps a dense key array for O(1) random picks. */
final class OrdersModel {
  val rows = mutable.HashMap.empty[Long, Order]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  var nextKey = 1L

  def copy(): OrdersModel = {
    val m = new OrdersModel
    rows.valuesIterator.foreach(m.put)
    m.nextKey = nextKey
    m
  }

  def size: Int = rows.size
  def get(k: Long): Option[Order] = rows.get(k)
  def randomKey(rng: java.util.Random): Long = keys(rng.nextInt(keys.size))

  def put(o: Order): Unit = {
    if (!rows.contains(o.key)) { pos(o.key) = keys.size; keys += o.key }
    rows(o.key) = o
    nextKey = math.max(nextKey, o.key + 1)
  }
  def remove(k: Long): Unit = if (rows.remove(k).isDefined) {
    val i = pos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; pos(last) = i }
  }

  /** A fresh key above every key ever used (sparse, like TPC-H's). */
  def newKey(rng: java.util.Random): Long = { val k = nextKey + rng.nextInt(4); nextKey = k + 1; k }

  def insert(batch: Seq[Order]): Unit = batch.foreach(put)
  def update(batch: Seq[Order]): Unit = batch.foreach(o => if (rows.contains(o.key)) put(o))
  def upsert(batch: Seq[Order]): Unit = batch.foreach(put)
  def delete(ks: Seq[Long]): Unit = ks.foreach(remove)
  def applyChanges(batch: Seq[(Order, Boolean)]): Unit =
    batch.foreach { case (o, del) => if (del) remove(o.key) else put(o) }
  /** Full merge guarded by `o_region`: target rows whose key is absent
    * from the source are deleted only in the regions the source names. */
  def mergeFull(batch: Seq[Order]): Unit = {
    val srcKeys = batch.map(_.key).toSet
    val regions = batch.map(_.region).toSet
    rows.valuesIterator.filter(o => regions(o.region) && !srcKeys(o.key)).map(_.key).toVector.foreach(remove)
    batch.foreach(put)
  }

  def digest: String = Orders.digest(rows.values.map(_.line))
}
