package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Input sizes. `full` is what the benchmark measures; `tiny` is the
  * smoke mode, which only proves that every metric is produced.
  */
final case class Scale(
    name: String,
    tsdbItems: Int,
    tsdbRowsPerItem: Int,
    tsdbDays: Int,
    sqlEvents: Int,
    sqlChunkRows: Long,
    sqlLineitem: Int,
    sqlOrders: Int,
    sqlCustomers: Int,
    llmDocs: Int,
    llmVectors: Int)

object Scale {
  // sf0.1 has 100 000 events, 600 000 lineitem, 150 000 orders,
  // 15 000 customers, 5 000 documents and 2 000 embeddings.
  val full = Scale("full",
    tsdbItems = 6, tsdbRowsPerItem = 2000, tsdbDays = 14,
    sqlEvents = 30000, sqlChunkRows = 500L,
    sqlLineitem = 60000, sqlOrders = 15000, sqlCustomers = 1500,
    llmDocs = 5000, llmVectors = 2000)
  val tiny = Scale("tiny",
    tsdbItems = 3, tsdbRowsPerItem = 200, tsdbDays = 8,
    sqlEvents = 4000, sqlChunkRows = 100L,
    sqlLineitem = 3000, sqlOrders = 800, sqlCustomers = 100,
    llmDocs = 400, llmVectors = 200)

  def apply(name: String): Scale = name match {
    case "full" => full
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown scale '$other'")
  }
}

/** Seeded input generation. Every value is a hash of (seed, row id,
  * column salt), so the content depends only on the seed and the
  * scale, never on partitioning or on the order Spark runs tasks in.
  *
  * The engine's own tests read a fixed corpus outside the repository;
  * the benchmark may read only its checkout, so it synthesizes tables
  * with the same shape (sf0.1 schemas, value ranges and vocabulary)
  * instead.
  */
object Inputs {
  /** Bumped whenever generation changes, so cached inputs are rebuilt. */
  val Version = 2

  val T0Micros: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
  val DayMicros: Long = 86400L * 1000000L
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  val Vocab = Seq(
    "a", "the", "of", "and", "to", "in", "is", "that", "spark", "stream", "batch", "table",
    "query", "scan", "sort", "join", "group", "agg", "hash", "filter", "window", "merge",
    "key", "value", "row", "column", "line", "part", "order", "customer", "vector", "data",
    "fast", "slow", "big", "small")
  val Langs = Seq("en", "en", "en", "fr", "es", "zh", "de")
  val Dims = 64

  def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(salt) +: cs: _*)

  /** Uniform double in [0, 1). */
  def unif(seed: Long, salt: Int, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(1L << 30)).cast("double") / (1L << 30).toDouble

  def pick(seed: Long, salt: Int, c: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(seed, salt, c), lit(values.size.toLong)) + 1).cast("int"))

  /** sf0.1-shaped events over `days` days: ids in arrival order,
    * exponential values on a 2-decimal grid, 2 000 users.
    */
  def events(spark: SparkSession, seed: Long, n: Long, days: Int): DataFrame = {
    val step = days * DayMicros / n
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(T0Micros) + col("id") * step +
        (unif(seed, 1, col("id")) * step).cast("long")).as("ts"),
      pmod(h(seed, 2, col("id")), lit(2000L)).as("user_id"),
      pick(seed, 3, col("id"), EventTypes).as("event_type"),
      round(-log(lit(1.0) - unif(seed, 4, col("id"))) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, 5, col("id")), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      pmod(h(seed, 30, col("id")), lit(25L)).cast("int").as("c_nationkey"),
      round(unif(seed, 31, col("id")) * 10000.0 - 1000.0, 2).as("c_acctbal"),
      pick(seed, 32, col("id"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(h(seed, 40, col("id")), lit(customers)).as("o_custkey"),
      pick(seed, 41, col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(unif(seed, 42, col("id")) * 400000.0 + 1000.0, 2).as("o_totalprice"),
      timestamp_micros(lit(T0Micros) + (unif(seed, 43, col("id")) * 2000 * DayMicros).cast("long"))
        .as("o_orderdate"),
      pick(seed, 44, col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long): DataFrame =
    spark.range(n).select(
      pmod(h(seed, 50, col("id")), lit(orders)).as("l_orderkey"),
      pmod(h(seed, 51, col("id")), lit(20000L)).as("l_partkey"),
      pmod(h(seed, 52, col("id")), lit(1000L)).as("l_suppkey"),
      (pmod(h(seed, 53, col("id")), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 54, col("id")), lit(50L)) + 1).cast("double").as("l_quantity"),
      round(unif(seed, 55, col("id")) * 100000.0 + 900.0, 2).as("l_extendedprice"),
      (pmod(h(seed, 56, col("id")), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(h(seed, 57, col("id")), lit(9L)).cast("double") / 100.0).as("l_tax"),
      pick(seed, 58, col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 59, col("id"), Seq("F", "O")).as("l_linestatus"),
      timestamp_micros(lit(T0Micros) + (unif(seed, 60, col("id")) * 2500 * DayMicros).cast("long"))
        .as("l_shipdate"))

  private def nTok(seed: Long, id: Column): Column = pmod(h(seed, 10, id), lit(81L)) + 10

  private def docText(seed: Long, id: Column): Column =
    concat_ws(" ", transform(sequence(lit(1L), nTok(seed, id)),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(h(seed, 11, id, i), lit(Vocab.size.toLong)) + 1).cast("int"))))

  /** Minimum length of a document that gets a planted near-duplicate:
    * one appended word adds one 5-word shingle to at least 16, which
    * keeps the Jaccard at or above 16/17, well over the engine's 0.8
    * near-duplicate threshold.
    */
  val PlantMinTokens = 20

  /** `n` distinct documents, then 2 % planted near-duplicates (a source
    * document plus one appended word) and 0.5 % exact copies, with ids
    * after the originals. Returns (documents, planted (src, dup) pairs).
    */
  def documents(spark: SparkSession, seed: Long, n: Long): (DataFrame, DataFrame) = {
    def shape(df: DataFrame, text: Column): DataFrame =
      df.select(
        col("id").as("doc_id"),
        text.as("text"),
        pick(seed, 14, col("id"), Langs).as("lang"),
        concat(lit("src"), pmod(h(seed, 15, col("id")), lit(20L)).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val base = shape(spark.range(n).toDF(), docText(seed, col("id")))
    val nearN = n / 50
    val planted = spark.range(n, n + nearN)
      .withColumn("src", pmod(h(seed, 12, col("id")), lit(n)))
      .filter(nTok(seed, col("src")) >= PlantMinTokens)
    val near = shape(planted, concat(docText(seed, col("src")), lit(" "),
      pick(seed, 13, col("id"), Vocab)))
    val exact = shape(
      spark.range(n + nearN, n + nearN + n / 200)
        .withColumn("src", pmod(h(seed, 16, col("id")), lit(n))),
      docText(seed, col("src")))
    (base.unionByName(near).unionByName(exact),
      planted.select(col("src").as("doc_a"), col("id").as("doc_b")))
  }

  /** `m` vectors uniform in the 64-cube: near-orthogonal, like the sf
    * corpus.
    */
  def embeddings(spark: SparkSession, seed: Long, m: Long): DataFrame =
    spark.range(m).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0L), lit(Dims - 1L)), k =>
        (unif(seed, 20, col("id"), k) - 0.5).cast("float")).as("embedding"),
      pmod(h(seed, 22, col("id")), lit(10L)).cast("int").as("label"))

  /** Order-independent content hash and row count of a table. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Every regular file under `p`, with its size in bytes. */
  def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def dirBytes(p: Path): Long = files(p).values.sum

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Where a workload's generated inputs for this seed are cached: the
    * key covers the seed, every scale value and the generator version.
    */
  def cacheDir(ctx: Ctx, workload: String): File = {
    val key = java.lang.Integer.toHexString(s"${ctx.scale}/$Version".hashCode)
    new File(new File(ctx.work.getParentFile, "inputs"), s"$workload-s${ctx.seed}-$key")
  }

  /** Materializes `tables` as `<dir>/<name>.parquet` unless a complete
    * copy for the same key is cached, and returns the manifest: per
    * table its row count, content hash and bytes, plus whatever
    * `extra` derives from the written tables.
    */
  def cached(dir: File, tables: => Seq[(String, DataFrame)])(
      extra: => Map[String, String]): Map[String, String] = {
    val manifest = new File(dir, "manifest.properties")
    if (!manifest.exists()) {
      deleteRecursively(dir)
      dir.mkdirs()
      val props = new java.util.Properties()
      tables.foreach { case (name, df) =>
        val path = new File(dir, s"$name.parquet").getPath
        df.write.mode("overwrite").parquet(path)
        val (rows, hash) = fingerprint(df.sparkSession.read.parquet(path))
        props.setProperty(s"$name.rows", rows.toString)
        props.setProperty(s"$name.hash", java.lang.Long.toHexString(hash))
        props.setProperty(s"$name.bytes", dirBytes(new File(path).toPath).toString)
      }
      extra.foreach { case (k, v) => props.setProperty(k, v) }
      val tmp = new File(dir, "manifest.tmp")
      val out = new java.io.FileOutputStream(tmp)
      try props.store(out, null) finally out.close()
      Files.move(tmp.toPath, manifest.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(manifest)
    try props.load(in) finally in.close()
    props.asScala.toMap
  }
}
