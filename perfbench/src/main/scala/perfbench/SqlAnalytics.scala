package perfbench

import graft.SparkEntry
import graft.sources.Store
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable

/** The analyst's path: a day-bucketed store of clone-offset events
  * copies with many files, read through the `graft` SQL catalog, plus
  * the time-series and relational operators over a flat corpus. The
  * first statement of each kind in every measured loop has its result
  * compared, after its clock stopped, with the same question asked
  * through `Store.query`, which bypasses DSv2 and the footer rules; a
  * mismatch fails the op.
  */
final class SqlAnalytics(ctx: Ctx) extends Workload {
  val name = "sql_analytics"
  private val sc = ctx.scale
  private val Days = 30
  private val DayMs = 86400000L
  private val t0Ms = Inputs.T0Micros / 1000
  /** Two items, so the join has both sides; INSERTs go to the last. */
  private val items = Seq("E0", "E1")
  private val inputDir = Inputs.cacheDir(ctx, name)
  private val storeDir = new File(ctx.work, "store")
  private val helper = new AdaptiveSparkPlanHelper {}

  val kinds: Seq[String] = Seq("sql.range_groupby", "sql.footer_count", "sql.topk", "sql.join",
    "sql.insert") ++ Layers.SqlOps.map("op." + _)
  private val deckCards = Seq("sql.range_groupby" -> 5, "sql.footer_count" -> 4, "sql.topk" -> 2,
    "sql.join" -> 2, "sql.insert" -> 1) ++ Layers.SqlOps.map("op." + _ -> 1)

  private var manifest: Map[String, String] = Map.empty
  private var store: Store = _
  private var rng: SplittableRandom = _
  private var deck: Deck = _
  private var opIndex = 0
  private var nextEventId = 0L
  private val rowsInItem = mutable.Map.empty[String, Long]
  private val filesInItem = mutable.Map.empty[String, Long]
  /** Statement kinds already compared with Store.query in this loop. */
  private val compared = mutable.Set.empty[String]

  def inputs(): Map[String, String] = {
    lazy val s = ctx.session()
    manifest = Inputs.cached(inputDir, Seq(
      "events" -> Inputs.events(s, ctx.seed, sc.sqlEvents, Days),
      "customer" -> Inputs.customer(s, ctx.seed, sc.sqlCustomers),
      "orders" -> Inputs.orders(s, ctx.seed, sc.sqlOrders, sc.sqlCustomers),
      "lineitem" -> Inputs.lineitem(s, ctx.seed, sc.sqlLineitem, sc.sqlOrders))) {
      def t(n: String) = s.read.parquet(new File(inputDir, s"$n.parquet").getPath)
      val ev = t("events")
      Map(
        "expect.resample_ohlcv" -> ev.select(date_trunc("day", col("ts")), col("event_type"))
          .distinct().count(),
        "expect.join_asof" -> ev.filter(col("event_type") === "purchase").count(),
        "expect.win_rolling_time" -> ev.count(),
        "expect.sessionize" -> ev.count(),
        "expect.agg_hash" -> t("lineitem").select("l_returnflag", "l_linestatus").distinct().count(),
        "expect.join_inner" -> t("orders").join(t("customer"),
          col("o_custkey") === col("c_custkey")).count()
      ).map { case (k, v) => k -> v.toString }
    }
    manifest
  }

  override def sessionConf: Map[String, String] = Map(
    "spark.sql.catalog.graft" -> "graft.sources.v2.GraftCatalog",
    "spark.sql.catalog.graft.path" -> storeDir.getAbsolutePath)

  /** Copy `c` of the base events: disjoint event ids, the same users
    * (so items join), and times shifted by a seeded 0-60 minutes.
    */
  private def copy(c: Int): DataFrame = {
    val shiftS = new SplittableRandom(ctx.seed * 1000 + c).nextLong(3600L)
    ctx.spark.read.parquet(new File(inputDir, "events.parquet").getPath)
      .select(
        (col("ts") + make_dt_interval(lit(0), lit(0), lit(0), lit(shiftS))).as("TS"),
        (col("event_id") + lit(c * 1000000000L)).as("EVENT_ID"),
        col("user_id").as("USER_ID"), col("event_type").as("EVENT_TYPE"),
        col("value").as("VALUE"))
  }

  def load(): Unit = {
    Inputs.deleteRecursively(storeDir)
    store = Store.open(ctx.spark, storeDir.getAbsolutePath,
      cols = Some(Seq("EVENT_ID" -> LongType, "USER_ID" -> LongType,
        "EVENT_TYPE" -> StringType, "VALUE" -> DoubleType)),
      index = Some("TS"), bucket = Some("day"), chunkRows = sc.sqlChunkRows)
    items.zipWithIndex.foreach { case (k, c) => store.write(k, copy(c)) }
    items.foreach { k =>
      val d = store.describe(k)
      rowsInItem(k) = d.rows
      filesInItem(k) = d.files
    }
    rng = new SplittableRandom(ctx.seed * 31 + 11)
    deck = new Deck(deckCards, rng)
    opIndex = 0
    nextEventId = 9000000000L
    // the warm-up is not compared; every measured loop is (beginLoop)
    compared ++= kinds
  }

  override def beginLoop(): Unit = compared.clear()

  def atBoundary: Boolean = deck.atStart

  private def item(): String = items(rng.nextInt(items.size))
  private def ts(ms: Long): String = new Timestamp(ms).toInstant.toString.replace("T", " ").stripSuffix("Z")
  private def day(): Long = t0Ms + rng.nextInt(Days) * DayMs

  def next(): Op = {
    val kind = if (opIndex < kinds.size) kinds(opIndex) else deck.next()
    opIndex += 1
    kind match {
      case "sql.range_groupby" =>
        val k = item(); val lo = day(); val hi = lo + 3 * DayMs - 1
        select(kind, Seq(k),
          s"SELECT EVENT_TYPE, count(*) AS n, round(sum(VALUE), 2) AS s FROM graft.$k " +
            s"WHERE TS BETWEEN '${ts(lo)}' AND '${ts(hi)}' GROUP BY EVENT_TYPE ORDER BY EVENT_TYPE",
          footerEligible = false,
          inRange = rows => rows.map(_.getLong(1)).sum,
          reference = () => store.query(k, Some(new Timestamp(lo)), Some(new Timestamp(hi)))
            .groupBy("EVENT_TYPE").agg(count(lit(1)).as("n"), round(sum("VALUE"), 2).as("s"))
            .orderBy("EVENT_TYPE"))
      case "sql.footer_count" =>
        val k = item(); val lo = day(); val hi = lo + 7 * DayMs
        select(kind, Seq(k),
          s"SELECT count(*) AS n, min(TS) AS lo, max(TS) AS hi FROM graft.$k " +
            s"WHERE TS >= '${ts(lo)}' AND TS < '${ts(hi)}'",
          footerEligible = true,
          inRange = rows => rows.head.getLong(0),
          reference = () => store.query(k, Some(new Timestamp(lo)), Some(new Timestamp(hi - 1)))
            .agg(count(lit(1)).as("n"), min("TS").as("lo"), max("TS").as("hi")))
      case "sql.topk" =>
        val k = item()
        select(kind, Seq(k), s"SELECT TS FROM graft.$k ORDER BY TS DESC LIMIT 20",
          footerEligible = false,
          inRange = _ => 0L,
          reference = () => store.query(k, columns = Some(Seq("TS"))).orderBy(col("TS").desc).limit(20))
      case "sql.join" =>
        val a = items(0); val b = items(1)
        val lo = day() + rng.nextInt(24) * 3600000L; val hi = lo + 6 * 3600000L
        def sq(k: String) = store.query(k, Some(new Timestamp(lo)), Some(new Timestamp(hi)))
        select(kind, Seq(a, b),
          s"SELECT a.EVENT_TYPE, count(*) AS n FROM graft.$a a JOIN graft.$b b " +
            s"ON a.USER_ID = b.USER_ID WHERE a.TS BETWEEN '${ts(lo)}' AND '${ts(hi)}' " +
            s"AND b.TS BETWEEN '${ts(lo)}' AND '${ts(hi)}' GROUP BY a.EVENT_TYPE ORDER BY 1",
          footerEligible = false,
          inRange = _ => 0L,
          reference = () => sq(a).as("a").join(sq(b).as("b"), col("a.USER_ID") === col("b.USER_ID"))
            .groupBy(col("a.EVENT_TYPE")).agg(count(lit(1)).as("n")).orderBy(col("EVENT_TYPE")))
      case "sql.insert" => insert()
      case op => operator(op.stripPrefix("op."))
    }
  }

  private def scans(p: SparkPlan): Seq[SparkPlan] = helper.collectWithSubqueries(p) {
    case s: BatchScanExec => s
    case s: FileSourceScanExec => s
  }

  private def filesRead(p: SparkPlan): Long = helper.collectWithSubqueries(p) {
    case s: BatchScanExec => s.inputPartitions.collect {
      case fp: FilePartition => fp.files.map(_.filePath.toString)
    }.flatten
  }.flatten.distinct.size.toLong

  private def phases(df: DataFrame): Unit = {
    val t = ctx.tracer
    if (t.enabled) {
      val ph = df.queryExecution.tracker.phases
      t.count("v2.statements", 1)
      Seq("parsing" -> "parse", "analysis" -> "analysis", "optimization" -> "optimization",
        "planning" -> "planning").foreach { case (k, m) =>
        t.count(s"v2.${m}_ms", ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
  }

  private def sameRows(got: Seq[Row], want: Seq[Row]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.length == w.length && (0 until g.length).forall { i =>
        (g.get(i), w.get(i)) match {
          case (x: Double, y: Double) => math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)) + 0.011
          case (x, y) => x == y
        }
      }
    }

  /** A SELECT over items `ks`. `inRange` gives, from the result, the
    * rows the statement's time range holds (0 for shapes whose result
    * does not tell), the base of the scan-rows-per-result-row ratio.
    */
  private def select(kind: String, ks: Seq[String], sql: String, footerEligible: Boolean,
      inRange: Seq[Row] => Long, reference: () => DataFrame): Op =
    Op(kind, write = false, () => {
      val t = ctx.tracer
      val frame = t.span("v2.sql", "v2")(ctx.spark.sql(sql))
      val rows = t.span("v2.exec", "v2")(frame.collect()).toSeq
      if (t.enabled) {
        phases(frame)
        val plan = frame.queryExecution.executedPlan
        val scanned = scans(plan).nonEmpty
        if (footerEligible) {
          t.count("plans.footer_eligible", 1)
          if (!scanned) t.count("plans.footer_answered", 1)
        }
        if (scanned) {
          t.count("v2.files_read", filesRead(plan).toDouble)
          t.count("v2.files_in_items", ks.map(filesInItem).sum.toDouble)
        }
        val n = inRange(rows)
        if (n > 0) t.resultRows(n.toDouble)
      }
      () => !compared.add(kind) || sameRows(rows, reference().collect().toSeq)
    })

  private def insert(): Op = {
    val k = items.last
    val rnd = new SplittableRandom(rng.nextLong())
    val base = t0Ms + (Days - 1) * DayMs
    val values = (1 to 20).map { _ =>
      nextEventId += 1
      s"(TIMESTAMP '${ts(base + rnd.nextLong(DayMs))}', $nextEventId, ${rnd.nextLong(2000L)}, " +
        s"'${Inputs.EventTypes(rnd.nextInt(5))}', ${rnd.nextInt(100000) / 100.0})"
    }
    Op("sql.insert", write = true, () => {
      val t = ctx.tracer
      val frame = t.span("v2.insert", "v2")(
        ctx.spark.sql(s"INSERT INTO graft.$k VALUES ${values.mkString(", ")}"))
      phases(frame)
      rowsInItem(k) += values.size
      () => {
        val d = store.describe(k)
        filesInItem(k) = d.files
        d.rows == rowsInItem(k)
      }
    })
  }

  private def operator(id: String): Op =
    Op(s"op.$id", write = false, () => {
      val t = ctx.tracer
      val frame = t.span(s"op.$id.build", "operators")(SparkEntry.queries(id)(ctx.spark, inputDir.getPath))
      val n = t.span(s"op.$id.exec", "operators")(Sink.noop(frame))
      () => n == manifest(s"expect.$id").toLong
    })

  def finalChecks(): Seq[String] = items.flatMap { k =>
    val rows = store.query(k).count()
    if (rows == rowsInItem(k)) None else Some(s"$k holds $rows rows, expected ${rowsInItem(k)}")
  }

  def endToEnd(recs: Seq[Rec], seconds: Double): Map[String, Metric] =
    Stats.readWrite(recs) + ("stored_bytes_per_row" ->
      Metric(Inputs.dirBytes(storeDir.toPath).toDouble / rowsInItem.values.sum, "bytes/row"))

  override def layerCounts(): Map[String, Metric] = Map(
    "store.files_per_item" -> Metric(Stats.mean(items.map(filesInItem(_).toDouble)), "files"))
}
