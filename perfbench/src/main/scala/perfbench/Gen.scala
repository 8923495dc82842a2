package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, stream, row
  * id), so one seed gives the same tables on every run and every machine.
  * The shapes follow the TPC-H-like test tables the engine's queries use
  * (orders, lineitem, part, and short word-salad documents).
  */
object Gen {

  /** Table sizes for `orders` base orders, in TPC-H proportions. */
  final case class Scale(orders: Long) {
    val customers: Long = math.max(orders / 10, 10)
    val suppliers: Long = math.max(orders / 150, 10)
    val parts: Long = math.max(orders * 2 / 15, 10)
  }

  private def h(seed: Long, stream: Int, c: Column): Column =
    xxhash64(lit(seed), lit(stream), c)

  /** `1 + (hash mod n)`. */
  private def pick(seed: Long, stream: Int, c: Column, n: Long): Column =
    pmod(h(seed, stream, c), lit(n)) + 1L

  /** Orders with keys in [from, from + n). */
  def orders(spark: SparkSession, seed: Long, sc: Scale, from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("o_orderkey"),
      pick(seed, 1, col("id"), sc.customers).as("o_custkey"))

  /** One to seven lines for every order key in [from, from + n). */
  def lineitem(spark: SparkSession, seed: Long, sc: Scale, from: Long, n: Long): DataFrame =
    spark.range(from * 8, (from + n) * 8)
      .select((col("id") / 8).cast("long").as("l_orderkey"),
        pmod(col("id"), lit(8L)).as("ln"), col("id"))
      .filter(col("ln") < pick(seed, 2, col("l_orderkey"), 7L))
      .select(col("l_orderkey"),
        pick(seed, 3, col("id"), sc.parts).as("l_partkey"),
        pick(seed, 4, col("id"), sc.suppliers).as("l_suppkey"),
        pick(seed, 5, col("id"), 50L).cast("double").as("l_quantity"),
        (pick(seed, 6, col("id"), 100000L) / 100.0 + 900.0).as("l_price"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          pick(seed, 7, col("id"), 3L).cast("int")).as("l_returnflag"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"),
        round(col("l_quantity") * col("l_price"), 2).as("l_extendedprice"),
        col("l_returnflag"))

  def part(spark: SparkSession, seed: Long, sc: Scale): DataFrame =
    spark.range(1, sc.parts + 1).select(col("id").as("p_partkey"),
      pick(seed, 8, col("id"), 50L).cast("int").as("p_size"),
      concat(lit("Brand#"), pick(seed, 9, col("id"), 5L),
        pick(seed, 10, col("id"), 5L)).as("p_brand"))

  /** A small deterministic generator for driver-side choices. */
  final class Rng(seed: Long) {
    private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def below(n: Long): Long = java.lang.Math.floorMod(nextLong(), n)
    def shuffle[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse if i > 0) {
        val j = below(i + 1).toInt
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
  }

  /** The word list of the engine's `documents` test table. */
  val vocab: Array[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(" ")

  /** One short document in the style of the `documents` test table:
    * 10 to 100 words drawn from [[vocab]]. */
  def shortDoc(r: Rng): Seq[String] =
    Seq.fill(10 + r.below(91).toInt)(vocab(r.below(vocab.length).toInt))
}
