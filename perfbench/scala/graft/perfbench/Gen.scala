package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the test-data-shaped input tables
  * (TESTDATA.md's `lineitem`, `orders`, `events`, `documents`): the
  * same columns and value ranges, every value a
  * hash of (row id, column salt, seed), so one seed always gives the
  * same tables regardless of partitioning. Each table is written as a
  * single parquet FILE `<dir>/<name>.parquet`, the layout the registry
  * reads (its stream lanes select tables by file name). */
object Gen {

  final case class Scale(lineitem: Long, suppliers: Int, parts: Int, customers: Int,
                         events: Long, documents: Long)

  private def h(salt: Int, seed: Long): Column = xxhash64(col("id"), lit(salt), lit(seed))
  private def mod(salt: Int, seed: Long, m: Long): Column = pmod(h(salt, seed), lit(m))
  private def unit(salt: Int, seed: Long): Column = mod(salt, seed, 1000000000L) / 1e9
  private def pick(salt: Int, seed: Long, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (mod(salt, seed, values.size) + 1).cast("int"))

  private val Day0 = "1995-01-02"
  private val Days = 2500

  def lineitem(s: SparkSession, sc: Scale, seed: Long): DataFrame =
    s.range(sc.lineitem).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      mod(1, seed, sc.parts).as("l_partkey"),
      mod(2, seed, sc.suppliers).as("l_suppkey"),
      (mod(3, seed, 7) + 1).cast("int").as("l_linenumber"),
      (mod(4, seed, 50) + 1).cast("double").as("l_quantity"),
      (floor(unit(5, seed) * 10410000) / 100 + 900).as("l_extendedprice"),
      (mod(6, seed, 11) / 100).as("l_discount"),
      (mod(7, seed, 9) / 100).as("l_tax"),
      pick(8, seed, Seq("A", "N", "R")).as("l_returnflag"),
      pick(9, seed, Seq("O", "F")).as("l_linestatus"),
      date_add(lit(Day0).cast("date"), mod(10, seed, Days).cast("int"))
        .cast("timestamp").as("l_shipdate"))

  def orders(s: SparkSession, sc: Scale, seed: Long): DataFrame =
    s.range(sc.lineitem / 4).select(
      col("id").as("o_orderkey"),
      mod(11, seed, sc.customers).as("o_custkey"),
      pick(12, seed, Seq("F", "O", "P")).as("o_orderstatus"),
      (floor(unit(13, seed) * 49900000) / 100 + 1000).as("o_totalprice"),
      date_add(lit(Day0).cast("date"), mod(14, seed, Days).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(15, seed, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** Events in time order over 30 days: 5 types, 150 users,
    * exponential-ish values with 2 decimals. */
  def events(s: SparkSession, sc: Scale, seed: Long): DataFrame = {
    val stepUs = 30L * 86400 * 1000000 / sc.events
    s.range(sc.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + mod(16, seed, stepUs))
        .as("ts"),
      mod(17, seed, 150).as("user_id"),
      pick(18, seed, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      (floor(-log(lit(1.0) - unit(19, seed) * 0.999) * 5000) / 100 + 0.01).as("value"),
      concat(lit("{\"k\": "), mod(20, seed, 100).cast("string"), lit("}")).as("props"))
  }

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  /** Documents of 10-99 words over a 30-word vocabulary; every tenth is
    * a near copy of its predecessor (one extra word), so dedup lanes
    * find work. */
  def documents(s: SparkSession, sc: Scale, seed: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val isDup = col("id") % 10 === 9
    val src = when(isDup, col("id") - 1).otherwise(col("id"))
    val nWords = (pmod(xxhash64(src, lit(21), lit(seed)), lit(90)) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(vocab, (pmod(xxhash64(src, i, lit(seed)), lit(Vocab.size)) + 1).cast("int")))
    val text = when(isDup, concat_ws(" ", words, lit("dup"))).otherwise(concat_ws(" ", words))
    s.range(sc.documents).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(22, seed, Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
      concat(lit("src"), mod(23, seed, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Writes `df` as the single parquet file `<dir>/<name>.parquet`. */
  def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Context.deleteTree(tmp)
  }
}
