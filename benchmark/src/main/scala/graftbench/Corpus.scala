package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.CorpusOps

/** A generated document and the structure it was planted with. */
final case class Doc(id: Long, text: String, quality: Double, source: String, vec: Array[Float],
                     kind: String, group: Int)

/** One batch: its documents, the planted groups, and the loaded frame. */
final case class Batch(docs: Vector[Doc], semPairs: Vector[(Long, Long)], df: DataFrame)

/** corpus_pipeline: a seeded synthetic corpus in equal batches. Each round
  * passes every batch through seven stages; each stage's output is
  * materialized before the next stage reads it:
  * exact dedup, near dedup (MinHash LSH, then best-in-cluster over the
  * pair graph's components), boilerplate lines, the Gopher rules, the
  * stupid-backoff LM score against models built in set-up, SemDedup over
  * embeddings, and token-budget shards.
  */
final class Corpus(ctx: Ctx) extends Workload {
  import Corpus._
  private val tr = ctx.tracer
  private var batches: Vector[Batch] = Vector.empty
  private var lms: Seq[DataFrame] = Nil
  private var lm: LmOracle = _
  private var next = 0
  private val stageWalls = mutable.ArrayBuffer.empty[Array[Double]]

  def setup(): Unit = {
    val gen = new CorpusGen(ctx.seed)
    batches = (0 until NumBatches).toVector.map { b =>
      val (docs, sem) = gen.batch(b)
      val rows = docs.map(d => Row(d.id, d.text, d.quality, d.source, d.vec.toSeq))
      val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores), schema)
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      Batch(docs, sem, df)
    }
    val ref = gen.reference(RefDocs)
    val refDf = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(ref.map(Row(_)), ctx.cores),
      StructType(Seq(StructField("text", StringType))))
    lms = Seq(CorpusOps.unigramLm(refDf, "text"), CorpusOps.bigramLm(refDf, "text"),
      CorpusOps.trigramLm(refDf, "text")).map(mat)
    lm = new LmOracle(ref)
  }

  def warmUp(): Unit = {
    val warm = new Recorder
    batches.take(WarmBatches).foreach(batch(warm, _))
    require(warm.failed == 0, s"warm-up failed: ${warm.failureSummary}")
    stageWalls.clear()
  }

  /** Materialize a stage's output and cut its lineage, so the next stage
    * plans over the stored rows instead of the whole upstream plan.
    */
  private def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** One round passes every batch, in turn: a batch takes several seconds,
    * so a round of one batch would leave the number of batches, and with it
    * the median, to how far the loop's clock ran.
    */
  def round(rec: Recorder): Unit = batches.foreach(batch(rec, _))

  private def batch(rec: Recorder, b: Batch): Unit = {
    val sc = ctx.spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val n = next
    next += 1
    val walls = new Array[Double](Stages.length)
    def stage[T](i: Int)(body: => T): T = {
      ctx.group(Stages(i), n)
      val t0 = System.nanoTime()
      val out = tr.span(Stages(i))(body)
      walls(i) = (System.nanoTime() - t0) / 1e9
      out
    }
    ctx.beginOp("batch")
    val res = rec.time("batch", b.docs.length.toDouble) {
      val exact = stage(0)(mat(Dedup.keepCanonical(b.df, "id", "text")))
      val (pairs, kept) = stage(1) {
        val pairs = mat(Dedup.minhashLshPairs(exact, "id", "text"))
        (pairs, mat(Dedup.keepBestInCluster(exact, "id", pairs, col("quality"))))
      }
      val clean = stage(2)(mat(CorpusOps.removeBoilerplateLines(kept, "id", "text", minDocs = BoilerplateMinDocs)))
      val good = stage(3)(mat(CorpusOps.gopherFilter(clean.select("id", "clean_text"), "id", "clean_text")))
      val scored = stage(4)(mat(CorpusOps.stupidBackoffScore(good, "id", "clean_text", lms(0), lms(1), lms(2))))
      val unique = stage(5)(mat(Similarity.semDedupKeep(
        good.join(kept.select("id", "source", "vec"), "id"), "id", "vec", SemThreshold,
        numClusters = SemClusters)))
      val shards = stage(6)(mat(CorpusOps.shardByTokenBudget(unique, "id", "clean_text", "source", ShardTokens)))
      (exact, pairs, kept, clean, good, scored, unique, shards)
    }
    ctx.endOp()
    res.foreach { case ((exact, pairs, kept, clean, good, scored, unique, shards), op) =>
      stageWalls += walls
      new CorpusCheck(b, lm).run(op, rec, exact, pairs, kept, clean, good, scored, unique, shards)
    }
    // release the round's stage outputs (and anything graft cached on the
    // way) so every round starts from the same heap
    sc.getPersistentRDDs.foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(blocking = true) }
  }

  def finish(rec: Recorder): Unit = ()

  def report(rec: Recorder): Report = {
    val ops = rec.okOps
    val docsPerS = ops.map(_.units).sum / (ops.map(_.ms).sum / 1000)
    val dedupMs = stageWalls.map(w => (w(0) + w(1)) * 1000).toSeq
    val named = Seq(
      ("docs_per_s", docsPerS, "1/s"),
      ("batch_p50_ms", Stats.median(rec.walls("batch")), "ms"),
      ("dedup_p50_ms", Stats.median(dedupMs), "ms"),
      ("samples_batch", rec.walls("batch").length.toDouble, "count"))
    val layers = if (!ctx.traced) Nil else {
      val l = ctx.listener.get
      Stages.indices.map(i => (Stages(i) + "_s", stageWalls.map(_(i)).sum / math.max(1, stageWalls.length), "s")) ++
        Stages.flatMap(s => ClassCounters.of(l, s, stageWalls.length))
    }
    Report(
      generic = Map("throughput_per_s" -> docsPerS, "op_p50_ms" -> Stats.median(rec.walls("batch"))),
      named = named, layers = layers)
  }
}

object Corpus {
  val NumBatches = 3
  val WarmBatches = 2
  val RefDocs = 400
  val BoilerplateMinDocs = 10
  val SemThreshold = 0.95
  val SemClusters = 8
  val ShardTokens = 1000L
  val Stages = Vector("dedup.exact", "dedup.neardup", "text.boilerplate", "text.gopher",
    "text.lm", "sim.semdedup", "text.shard")
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
}
