package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One orders row of the 4-column serving table. */
final case class Ord(key: Long, cust: Long, status: String, price: Double) {
  def row: Row = Row(key, cust, status, price)
}

object Ord {
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = true),
    StructField("o_orderstatus", StringType, nullable = true),
    StructField("o_totalprice", DoubleType, nullable = true)))

  def of(r: Row): Ord = Ord(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))

  private val statuses = Array("F", "O", "P")

  /** A seeded replacement value for an existing or a new key. */
  def random(key: Long, rnd: java.util.SplittableRandom): Ord =
    Ord(key, rnd.nextLong(15000L), statuses(rnd.nextInt(3)),
      rnd.nextInt(100000, 50000000) / 100.0)
}

/** In-memory model of the orders table, the oracle serve/ingest/sql
  * reads are checked against. Writers mutate it under its lock. */
final class OrdersModel {
  val rows = new java.util.TreeMap[java.lang.Long, Ord]()
  private val byCust = mutable.HashMap[Long, mutable.Set[Long]]()

  def put(o: Ord): Unit = synchronized {
    Option(rows.put(o.key, o)).foreach(old => byCust.get(old.cust).foreach(_ -= old.key))
    byCust.getOrElseUpdate(o.cust, mutable.Set[Long]()) += o.key
  }
  def delete(k: Long): Unit = synchronized {
    Option(rows.remove(k)).foreach(old => byCust.get(old.cust).foreach(_ -= old.key))
  }
  def get(k: Long): Option[Ord] = synchronized(Option(rows.get(k)))
  def range(lo: Long, hi: Long): Seq[Ord] = synchronized(
    rows.subMap(lo, true, hi, true).values().asScala.toSeq)
  def ofCust(c: Long): Seq[Ord] = synchronized(
    byCust.get(c).toSeq.flatten.map(k => rows.get(k)).sortBy(_.key))
  def maxKey: Long = synchronized(rows.lastKey())
  def size: Int = synchronized(rows.size)
  def keys: Array[Long] = synchronized(rows.keySet().asScala.map(_.longValue).toArray)
}

/** The data every run starts from is the same whatever the workload
  * seed: the seed drives the traffic, not the layout it lands on, so
  * runs with different seeds measure the same tables. */
object Inputs {
  /** Seed of everything layout-shaping: holes and set-up CDC batches. */
  val LayoutSeed = 42L

  /** The orders projection every kv workload serves, minus 2% of keys
    * ("holes") so absent-key probes land inside file ranges and exercise
    * the bloom veto rather than the min/max prune. */
  def orders(s: SparkSession, dataDir: String): DataFrame =
    s.read.parquet(s"$dataDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .filter(pmod(col("o_orderkey") * lit(7919L) + lit(LayoutSeed), lit(50L)) =!= 0L)

  def isHole(k: Long): Boolean = Math.floorMod(k * 7919L + LayoutSeed, 50L) == 0L

  def ordersModel(s: SparkSession, dataDir: String): OrdersModel = {
    val m = new OrdersModel
    orders(s, dataDir).collect().foreach(r => m.put(Ord.of(r)))
    m
  }

  def documents(s: SparkSession, dataDir: String): DataFrame =
    s.read.parquet(s"$dataDir/documents.parquet")
}

/** Zipf(1.0) sampler over ranks 0..n-1. */
final class Zipf(n: Int) {
  private val cdf = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / (i + 1); a(i) = acc; i += 1 }
    a.map(_ / acc)
  }
  def sample(rnd: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1) min (n - 1)
  }
}
