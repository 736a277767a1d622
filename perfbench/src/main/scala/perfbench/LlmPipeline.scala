package perfbench

import graft.SparkEntry

import java.io.File
import scala.collection.mutable

/** The LLM-data-pipeline traffic, compute-bound and Store-free: each
  * pass runs a fixed stage sequence over seeded documents (with planted
  * near-duplicates) and embeddings, every stage sunk to
  * `noop`. The loop stops only between passes, so every stage is
  * sampled equally often.
  */
final class LlmPipeline(ctx: Ctx) extends Workload {
  val name = "llm_pipeline"
  /** Planted near-duplicates dedup_minhash must find: banded MinHash
    * (8 bands of 8 rows) catches a pair at Jaccard 0.94, the lowest a
    * planted pair has, with probability above 0.999, so a 0.9 floor
    * only fails on a real regression.
    */
  val RecallFloor = 0.9
  private val sc = ctx.scale
  private val inputDir = Inputs.cacheDir(ctx, name)
  val kinds: Seq[String] = Layers.LlmStages.map("op." + _)

  private var manifest: Map[String, String] = Map.empty
  private var stage = 0
  /** Output rows of each stage in the first pass; later passes must match. */
  private val rowsByStage = mutable.Map.empty[String, Long]
  private var recall = 0.0

  def inputs(): Map[String, String] = {
    lazy val s = ctx.session()
    manifest = Inputs.cached(inputDir, {
      val (docs, planted) = Inputs.documents(s, ctx.seed, sc.llmDocs)
      Seq("documents" -> docs, "planted" -> planted,
        "embeddings" -> Inputs.embeddings(s, ctx.seed, sc.llmVectors))
    })(Map.empty)
    manifest
  }

  def load(): Unit = {
    stage = 0
    rowsByStage.clear()
  }

  override def atBoundary: Boolean = stage == 0

  def next(): Op = {
    val id = Layers.LlmStages(stage)
    stage = (stage + 1) % Layers.LlmStages.size
    Op(s"op.$id", write = false, () => {
      val t = ctx.tracer
      val frame = t.span(s"op.$id.build", "operators")(SparkEntry.queries(id)(ctx.spark, inputDir.getPath))
      val n = t.span(s"op.$id.exec", "operators")(Sink.noop(frame))
      () => rowsByStage.getOrElseUpdate(id, n) == n
    })
  }

  private def plantedFound(id: String): Double = {
    val s = ctx.spark
    val planted = s.read.parquet(new File(inputDir, "planted.parquet").getPath)
    val found = SparkEntry.queries(id)(s, inputDir.getPath).select("doc_a", "doc_b")
    planted.join(found, Seq("doc_a", "doc_b"), "left_semi").count().toDouble /
      manifest("planted.rows").toDouble
  }

  /** dedup_ngram is exact for Jaccard >= 0.8, so it must find every
    * planted pair; dedup_minhash is approximate and must meet the floor.
    */
  def finalChecks(): Seq[String] = {
    recall = plantedFound("dedup_minhash")
    val exact = plantedFound("dedup_ngram")
    Seq(
      Option.when(recall < RecallFloor)(f"dedup_minhash planted recall $recall%.3f < $RecallFloor"),
      Option.when(exact < 1.0)(f"dedup_ngram planted recall $exact%.3f < 1")).flatten
  }

  def endToEnd(recs: Seq[Rec], seconds: Double): Map[String, Metric] = Map(
    "docs_per_s" -> Metric(manifest("documents.rows").toDouble * recs.size / seconds, "docs/s"))

  override def layerCounts(): Map[String, Metric] =
    Map("llm.planted_dup_recall" -> Metric(recall, "ratio"))
}
