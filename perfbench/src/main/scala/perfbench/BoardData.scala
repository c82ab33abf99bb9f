package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the board's input tables, in the layout
  * `graft.Tables` reads (`<dir>/<name>.parquet`, one file per table):
  * the customer, orders, lineitem, documents and embeddings tables the
  * board's queries read, with the schemas and value ranges of the
  * deterministic test data the engine's queries were written against
  * (TESTDATA.md, FIXTURES.md §7).
  *
  * Row counts follow the test data's scale factors: lineitem 6M×sf,
  * orders 1.5M×sf, customer 150k×sf, documents 50k×sf and embeddings
  * 20k×sf (at least 500 each); lineitem's part and supplier keys range
  * over 200k×sf parts and 10k×sf suppliers. Large tables are derived from `spark.range` with per-column
  * hash draws, so a row's values depend only on (seed, row id) and not
  * on partitioning; documents and embeddings are drawn on the driver.
  *
  * Documents reproduce the test data's near-duplicate structure: 30
  * words, 10–100 words per document, 5% near duplicates (an earlier
  * original document plus the token `dup`) and 0.2% exact duplicates.
  * Embeddings are unit-norm 64-dim float vectors with labels 0–9.
  */
object BoardData {

  final case class Sizes(lineitem: Long, orders: Long, customer: Long, part: Long,
      supplier: Long, documents: Int, embeddings: Int) {
    def totalRows: Long = lineitem + orders + customer + documents + embeddings
  }

  def sizes(sf: Double): Sizes = Sizes(
    lineitem = math.round(6000000 * sf), orders = math.round(1500000 * sf),
    customer = math.round(150000 * sf), part = math.round(200000 * sf),
    supplier = math.max(10L, math.round(10000 * sf)),
    documents = math.max(500, math.round(50000 * sf).toInt),
    embeddings = math.max(500, math.round(20000 * sf).toInt))

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  /** Writes every table under `dir`; returns the sizes written. */
  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Sizes = {
    val n = sizes(sf)
    // uniform [0,1) draw for column `salt` of the row with this id
    def u(salt: Int): Column =
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000007L)).cast("double") /
        lit(1000000007.0)
    def int(salt: Int, lo: Int, hi: Int): Column = (lit(lo) + floor(u(salt) * (hi - lo + 1))).cast("int")
    def long(salt: Int, hi: Long): Column = floor(u(salt) * hi).cast("long")
    def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + u(salt) * (hi - lo), 2)
    def oneOf(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), int(salt, 1, xs.length))
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(java.sql.Date.valueOf(from)), int(salt, 0, days - 1))
        .cast("timestamp_ntz")
    def rows(count: Long): DataFrame = spark.range(0, count, 1, 4).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    import spark.implicits._
    write("customer", rows(n.customer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 0, 24).as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(3, Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"))
        .as("c_mktsegment")))
    write("orders", rows(n.orders).select(
      col("id").as("o_orderkey"),
      long(1, n.customer).as("o_custkey"),
      oneOf(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    val qty = int(5, 1, 50).cast("double")
    write("lineitem", rows(n.lineitem).select(
      long(1, n.orders).as("l_orderkey"),
      long(2, n.part).as("l_partkey"),
      long(3, n.supplier).as("l_suppkey"),
      int(4, 1, 7).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(6) * 1200), 2).as("l_extendedprice"),
      (int(7, 0, 10).cast("double") / 100).as("l_discount"),
      (int(8, 0, 8).cast("double") / 100).as("l_tax"),
      oneOf(9, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(10, Seq("F", "O")).as("l_linestatus"),
      day(11, "1995-01-02", 2499).as("l_shipdate")))
    val r = new SplittableRandom(seed)
    val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
    val docs = Array.newBuilder[(Long, String, String, String, Long)]
    // duplicates copy originals only: every duplicate cluster is a star,
    // so the near-duplicate clustering does the same number of rounds
    // whatever the seed
    val originals = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n.documents).foreach { i =>
      val text =
        if (i % 500 == 499) originals(r.nextInt(originals.length))
        else if (i % 20 == 19) originals(r.nextInt(originals.length)) + " dup"
        else {
          val t = Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
          originals += t
          t
        }
      docs += ((i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong))
    }
    write("documents", docs.result().toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val vecs = (0 until n.embeddings).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    write("embeddings", vecs.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast(ArrayType(FloatType))))
    n
  }
}
