package perfbench

import graft.sources.Store
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** oakstore's own traffic on a small day-bucketed store that fits in
  * memory: Zipf-skewed keys, recent-biased ranges, reads beside tail
  * appends, O(history) dedup appends and bucket compaction. Every read
  * and every item's final size is checked against an in-memory model
  * of the rows the generator wrote.
  */
final class TsdbMixed(ctx: Ctx) extends Workload {
  val name = "tsdb_mixed"
  private val HourMs = 3600000L
  private val DayMs = 24 * HourMs
  private val BatchStepMs = 10 * 60000L
  private val BatchRows = 32
  private val sc = ctx.scale
  private val keys = (0 until sc.tsdbItems).map(i => f"K$i%02d")
  private val startMs = Inputs.T0Micros / 1000
  private val historyEndMs = startMs + sc.tsdbDays * DayMs
  private val schema = StructType(Seq(
    StructField("TS", TimestampType), StructField("EVENT_ID", LongType),
    StructField("USER_ID", LongType), StructField("EVENT_TYPE", StringType),
    StructField("VALUE", DoubleType)))
  private val zipfCdf = {
    val w = keys.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val storeDir = new File(ctx.work, "store")

  val kinds = Seq("query.narrow", "query.wide", "item.narrow", "item.wide",
    "queryMany.narrow", "queryMany.wide", "appendNewOnly", "appendNewOnly.resend",
    "append", "compactBuckets")
  private val deckCards = Seq("query.narrow" -> 4, "query.wide" -> 3, "item.narrow" -> 2,
    "item.wide" -> 1, "queryMany.narrow" -> 2, "queryMany.wide" -> 2,
    "appendNewOnly" -> 4, "appendNewOnly.resend" -> 1, "append" -> 1)
  /** The compaction that closes every deck, after its 6 writes. */
  private val deckLast = Seq("compactBuckets")

  // -- state, reset by load() ------------------------------------------
  private var initial: Map[String, Vector[Row]] = Map.empty
  private var store: Store = _
  /** Sorted TS (ms) of every live row, per item. */
  private var model: Map[String, mutable.ArrayBuffer[Long]] = Map.empty
  private var rng: SplittableRandom = _
  private var deck: Deck = _
  private var opIndex = 0
  private var clockMs = 0L
  private var nextEventId = 0L
  private val writesByKey = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val sent = mutable.ArrayBuffer.empty[(String, Vector[Row])]

  private def row(rnd: SplittableRandom, ts: Long, id: Long): Row =
    Row(new Timestamp(ts), id, rnd.nextLong(2000L), Inputs.EventTypes(rnd.nextInt(5)),
      math.round(-math.log(1 - rnd.nextDouble()) * 5000.0) / 100.0)

  def inputs(): Map[String, String] = {
    val rnd = new SplittableRandom(ctx.seed)
    initial = keys.zipWithIndex.map { case (k, i) =>
      val ts = Array.fill(sc.tsdbRowsPerItem)(startMs + rnd.nextLong(sc.tsdbDays * DayMs)).sorted
      k -> ts.zipWithIndex.map { case (t, j) => row(rnd, t, i * 100000000L + j) }.toVector
    }.toMap
    val rows = initial.values.flatten.toSeq
    val hash = rows.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq)).foldLeft(0L) {
      (acc, hh) => acc * 31 + hh
    }
    Map("items" -> keys.size.toString, "rows" -> rows.size.toString,
      "bytes" -> rows.map(userBytes).sum.toLong.toString,
      "hash" -> java.lang.Long.toHexString(hash))
  }

  private def userBytes(r: Row): Double = 32.0 + r.getString(3).length

  private def df(rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(rows.asJava, schema)

  def load(): Unit = {
    Inputs.deleteRecursively(storeDir)
    store = Store.open(ctx.spark, storeDir.getAbsolutePath,
      cols = Some(schema.fields.tail.map(f => f.name -> f.dataType).toSeq),
      index = Some("TS"), bucket = Some("day"))
    keys.foreach(k => store.write(k, df(initial(k))))
    model = initial.map { case (k, rows) =>
      k -> mutable.ArrayBuffer.from(rows.map(_.getTimestamp(0).getTime))
    }
    rng = new SplittableRandom(ctx.seed * 31 + 7)
    deck = new Deck(deckCards, rng, deckLast)
    opIndex = 0
    clockMs = historyEndMs
    nextEventId = 1000000000L
    writesByKey.clear()
    sent.clear()
  }

  def atBoundary: Boolean = deck.atStart

  // -- model -----------------------------------------------------------
  private def lowerBound(a: mutable.ArrayBuffer[Long], x: Long): Int = {
    var lo = 0; var hi = a.size
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }
  private def modelCount(k: String, t0: Long, t1: Long): Long = {
    val a = model(k)
    (lowerBound(a, t1 + 1) - lowerBound(a, t0)).toLong
  }
  private def modelAdd(k: String, ts: Seq[Long]): Unit = {
    val a = model(k)
    a ++= ts
    if (ts.nonEmpty && a.size > ts.size && ts.min < a(a.size - ts.size - 1)) a.sortInPlace()
  }

  private def zipfKey(): String = {
    val u = rng.nextDouble()
    keys(zipfCdf.indexWhere(_ >= u) max 0)
  }

  private def range(narrow: Boolean): (Long, Long) = {
    val width = if (narrow) HourMs else if (rng.nextDouble() < 0.6) DayMs else 7 * DayMs
    val back = math.min((-math.log(1 - rng.nextDouble()) * 6 * HourMs).toLong, sc.tsdbDays * DayMs)
    val end = clockMs - back
    (end - width, end)
  }

  def next(): Op = {
    val kind = if (opIndex < kinds.size) kinds(opIndex) else deck.next()
    opIndex += 1
    kind match {
      case "compactBuckets" => compactOp()
      case "appendNewOnly" => writeOp(kind, resend = false, dedup = false)
      case "appendNewOnly.resend" => writeOp(kind, resend = true, dedup = false)
      case "append" => writeOp(kind, resend = false, dedup = true)
      case k => readOp(k)
    }
  }

  private def readOp(kind: String): Op = {
    val Array(api, width) = kind.split('.')
    val narrow = width == "narrow"
    val ks = if (api == "queryMany") Seq.fill(3)(zipfKey()).distinct else Seq(zipfKey())
    val (t0, t1) = range(narrow)
    val (ts0, ts1) = (new Timestamp(t0), new Timestamp(t1))
    Op(kind, write = false, () => {
      val t = ctx.tracer
      val frame = api match {
        case "query" => t.span("store.query.build", "store")(store.query(ks.head, Some(ts0), Some(ts1)))
        case "item" => t.span("store.query.build", "store")(store.item(ks.head)(ts0, ts1))
        case "queryMany" => t.span("store.queryMany.build", "store")(store.queryMany(ks, Some(ts0), Some(ts1)))
      }
      val withItem = if (api == "queryMany") frame else frame.withColumn("ITEM", lit(ks.head))
      // narrow reads return their rows; wide reads aggregate a value
      // column, so Parquet cannot answer them from footer counts alone
      val got: Map[String, Long] = t.span("store.read.action", "store") {
        if (narrow) withItem.select("ITEM", "TS").collect().groupBy(_.getString(0))
          .map { case (k, rs) => k -> rs.length.toLong }
        else withItem.groupBy("ITEM").agg(count(lit(1)), sum("VALUE")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val want = ks.map(k => k -> modelCount(k, t0, t1)).toMap
      t.resultRows(want.values.sum.toDouble)
      () => ks.forall(k => got.getOrElse(k, 0L) == want(k))
    })
  }

  private def sizeMatches(k: String): Boolean = store.describe(k).rows == model(k).size.toLong

  /** Times `body` as `span`; in the traced run, also counts the bytes
    * of files it created against `userBytes` ingested.
    */
  private def tracedWrite[T](k: String, span: String, user: Double)(body: => T): T = {
    val t = ctx.tracer
    val dir = new File(new File(storeDir, "items"), k).toPath
    val before = if (t.enabled) Inputs.files(dir) else Map.empty[String, Long]
    val out = t.span(span, "store")(body)
    if (t.enabled) {
      val created = Inputs.files(dir).filter { case (f, _) => !before.contains(f) }.values.sum
      t.count("store.new_file_bytes", created.toDouble)
      t.count("store.user_bytes", user)
    }
    out
  }

  private def writeOp(kind: String, resend: Boolean, dedup: Boolean): Op = {
    val k = zipfKey()
    val previous = sent.filter(_._1 == k)
    if (resend && sent.nonEmpty) {
      val (rk, rows) = sent(rng.nextInt(sent.size))
      Op(kind, write = true, () => {
        tracedWrite(rk, "store.appendNewOnly", rows.map(userBytes).sum)(
          store.appendNewOnly(rk, df(rows)))
        () => sizeMatches(rk)
      })
    } else {
      val rnd = new SplittableRandom(rng.nextLong())
      val fresh = Vector.tabulate(BatchRows) { _ =>
        nextEventId += 1
        row(rnd, clockMs + 1 + rnd.nextLong(BatchStepMs), nextEventId)
      }.sortBy(_.getTimestamp(0).getTime)
      clockMs += BatchStepMs
      // the dedup path re-sends a few rows the item already holds
      val repeats = if (dedup) previous.lastOption.toSeq.flatMap(_._2.take(5)) else Nil
      val batch = fresh ++ repeats
      writesByKey(k) += 1
      Op(kind, write = true, () => {
        if (dedup) tracedWrite(k, "store.append", batch.map(userBytes).sum)(store.append(k, df(batch)))
        else tracedWrite(k, "store.appendNewOnly", batch.map(userBytes).sum)(
          store.appendNewOnly(k, df(batch)))
        modelAdd(k, fresh.map(_.getTimestamp(0).getTime))
        sent += k -> fresh
        if (sent.size > 8) sent.remove(0)
        () => sizeMatches(k)
      })
    }
  }

  private def compactOp(): Op = {
    val k = writesByKey.toSeq.sortBy { case (key, n) => (-n, key) }.headOption.map(_._1)
      .getOrElse(keys.head)
    writesByKey.clear()
    val since = new Timestamp(clockMs - 2 * DayMs)
    Op("compactBuckets", write = true, () => {
      val n = tracedWrite(k, "store.compactBuckets", 0.0)(
        store.compactBuckets(k, maxFilesPerBucket = 2L, since = Some(since)))
      ctx.tracer.count("store.buckets_rewritten", n.toDouble)
      () => sizeMatches(k)
    })
  }

  def finalChecks(): Seq[String] = keys.flatMap { k =>
    val rows = store.query(k).count()
    val want = model(k).size.toLong
    if (rows == want) None else Some(s"$k holds $rows rows, model says $want")
  }

  def endToEnd(recs: Seq[Rec], seconds: Double): Map[String, Metric] = {
    val live = model.values.map(_.size.toLong).sum
    Stats.readWrite(recs) + ("stored_bytes_per_row" ->
      Metric(Inputs.dirBytes(storeDir.toPath).toDouble / live, "bytes/row"))
  }

  override def layerCounts(): Map[String, Metric] = Map(
    "store.files_per_item" -> Metric(Stats.mean(keys.map(store.describe(_).files.toDouble)), "files"))
}
