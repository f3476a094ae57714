package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is a pure function of
  * (seed, size): TPC-H-shaped `orders` is spelled as hash expressions
  * over `spark.range` (so the values do not depend on how the range is
  * split into tasks), and the documents / embeddings corpora are drawn
  * in the JVM from one SplittableRandom. Tables are written as
  * single-file parquet directories `<dir>/<name>.parquet`, the layout
  * `graft.Tables` reads, so the program sees only these files. */
object Data {
  /** 1995-01-01 as epoch seconds, and the order-date span in days (to
    * 2001-08-01): the span of the sf0.1 test data's `orders`. */
  private val Epoch0 = 788918400L
  private val DateDays = 2405

  /** `orders` rows at scale factor `sf`, and the customer keys they use. */
  def orderCount(sf: Double): Long = math.round(1500000 * sf)
  def customerCount(sf: Double): Long = math.round(150000 * sf)

  private def h(seed: Long, id: Column, k: Int): Column =
    xxhash64(lit(seed), id, lit(k))
  private def uni(seed: Long, id: Column, k: Int, n: Long): Column =
    pmod(h(seed, id, k), lit(n))
  private def pick(seed: Long, id: Column, k: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*),
      (uni(seed, id, k, xs.size.toLong) + 1).cast("int"))

  def orders(s: SparkSession, seed: Long, sf: Double): DataFrame = {
    val id = col("id")
    s.range(orderCount(sf)).select(
      id.as("o_orderkey"),
      uni(seed, id, 1, customerCount(sf)).as("o_custkey"),
      pick(seed, id, 2, "O", "F", "P").as("o_orderstatus"),
      (uni(seed, id, 3, 49900000L) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_seconds(lit(Epoch0) + uni(seed, id, 4, DateDays.toLong) * 86400L)
        .as("o_orderdate"),
      pick(seed, id, 5, "1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
  }

  /** The 30 words of the sf0.1 test corpus, each drawn with equal
    * probability there. */
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** `n` documents shaped like the sf0.1 test corpus (see README.md): a
    * base document is 10–99 words drawn uniformly, each word uniformly
    * from `Vocab`; 5 % of the documents are near-duplicates, a copy of a
    * random base document anywhere in the corpus with the word "dup"
    * appended. The copies are spread evenly over the residue classes
    * mod 100 (the ingest slices): every 20th document of a class is one. */
  def documents(s: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.SplittableRandom(seed * 7919L + 17L)
    def isCopy(i: Int) = (i / 100 + 7 * (i % 100)) % 20 == 0
    val words = Array.tabulate(n) { i =>
      if (isCopy(i)) null
      else Array.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length)))
    }
    val bases = (0 until n).filterNot(isCopy)
    for (i <- 0 until n if isCopy(i))
      words(i) = words(bases(rng.nextInt(bases.size))) :+ "dup"
    val rows = (0 until n).map { i =>
      val text = words(i).mkString(" ")
      (i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
    s.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `n` unit vectors of dimension 64, uniform on the sphere, each with a
    * uniform label in 0..9 that does not depend on the vector: in the
    * sf0.1 test data a vector lies no closer to its label's mean than to
    * any other direction. */
  def embeddings(s: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.SplittableRandom(seed * 104729L + 3L)
    def gauss(): Double = {
      // Box–Muller on the seeded stream
      val u = 1.0 - rng.nextDouble(); val w = rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * w)
    }
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(gauss())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / nrm).toFloat).toSeq, rng.nextInt(10))
    }
    s.createDataFrame(rows).toDF("vec_id", "embedding", "label")
  }

  def write(df: DataFrame, dir: String, name: String): Unit =
    df.repartition(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
