package graftbench

import org.apache.spark.sql.SparkSession

/** What a workload reports after its timed loop. `generic` holds the
  * end-to-end metrics every workload prints (same names everywhere);
  * `named` holds the workload's own figures by request class, and
  * `layers` the per-layer figures of a traced run.
  */
final case class Report(generic: Map[String, Double],
                        named: Seq[(String, Double, String)],
                        layers: Seq[(String, Double, String)] = Nil)

/** One workload: set up, run whole rounds, check, report. */
trait Workload {
  /** Generate inputs and build the program state. */
  def setup(): Unit
  /** Run untimed rounds so the JVM and Spark are warm before the loop. */
  def warmUp(): Unit
  /** One round of operations; each is timed on `rec`, checked untimed. */
  def round(rec: Recorder): Unit
  /** Checks that need the end state; may mark earlier operations failed. */
  def finish(rec: Recorder): Unit
  def report(rec: Recorder): Report
}

final case class Ctx(spark: SparkSession, seed: Long, traced: Boolean, tracer: Tracer,
                     listener: Option[EngineListener], workDir: java.io.File) {
  def cores: Int = spark.sparkContext.defaultParallelism
  private var opId = 0
  /** Open a new operation: its job group attributes the Spark work of a
    * traced run to the operation's class.
    */
  def beginOp(cls: String): Unit = {
    opId += 1
    tracer.currentOp = opId
    if (traced) spark.sparkContext.setJobGroup(s"$cls#$opId", cls)
  }
  def endOp(): Unit = if (traced) spark.sparkContext.clearJobGroup()
  /** Attribute the following Spark jobs of a traced run to `group`. */
  def group(cls: String, n: Int): Unit = if (traced) spark.sparkContext.setJobGroup(s"$cls#$n", cls)
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg\nusage: graftbench.Main --workload " +
      "<cube_dashboard|cube_ingest|corpus_pipeline> --seed <n> --seconds <s> --trace <0|1> --out <dir>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", usage("missing --workload"))
    val seed = kv.get("seed").flatMap(_.toLongOption).getOrElse(usage("bad --seed"))
    val seconds = kv.get("seconds").flatMap(_.toDoubleOption).getOrElse(usage("bad --seconds"))
    val traced = kv.getOrElse("trace", "0") == "1"
    val out = new java.io.File(kv.getOrElse("out", ".bench_build"))
    if (!Set("cube_dashboard", "cube_ingest", "corpus_pipeline").contains(workload))
      usage(s"unknown workload '$workload'")

    val workDir = new java.io.File(out, s"work/$workload-$seed-${ProcessHandle.current().pid()}")
    Files.deleteTree(workDir)
    workDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    var code = 0
    try {
      val listener = if (traced) Some(new EngineListener) else None
      val ctx = Ctx(spark, seed, traced, new Tracer(traced), listener, workDir)
      val w: Workload = workload match {
        case "cube_dashboard"  => new Dashboard(ctx)
        case "cube_ingest"     => new Ingest(ctx)
        case "corpus_pipeline" => new Corpus(ctx)
      }
      val s0 = System.nanoTime()
      w.setup()
      val w0 = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = (System.nanoTime() - t0) / 1e9

      val rec = new Recorder
      // registered after set-up, so it sees the timed loop and the checks only
      listener.foreach(spark.sparkContext.addSparkListener)
      val loopStart = System.nanoTime()
      var rounds = 0
      while ((System.nanoTime() - loopStart) / 1e9 < seconds) { w.round(rec); rounds += 1 }
      val loopS = (System.nanoTime() - loopStart) / 1e9
      val heapMb = Heap.liveMb
      w.finish(rec)
      listener.foreach(_.drain())
      val rep = w.report(rec)

      val e2e = rep.generic + ("setup_s" -> setupS)
      val info = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
        "rounds" -> rounds.toString, "loop_s" -> Json.num(loopS),
        "session_s" -> Json.num(sessionS), "inputs_s" -> Json.num((w0 - s0) / 1e9), "warmup_s" -> Json.num(warmS),
        "cores" -> cores.toString, "live_heap_mb" -> Json.num(heapMb),
        "walls_ms" -> Json.obj(rec.classes.map(c => c -> Json.arr(rec.walls(c).map(w => math.round(w).toString)))),
        "cpu_ms" -> Json.obj(rec.classes.map(c => c -> Json.arr(rec.cpu(c).map(w => math.round(w).toString)))),
        "failures" -> Json.obj(rec.failureSummary.toSeq.map { case (k, v) => k -> v.toString }),
        "named" -> Json.metrics(rep.named),
        "layers" -> Json.metrics(rep.layers)))
      println(info)
      if (traced) {
        val f = new java.io.File(out, s"trace/$workload-$seed.json")
        f.getParentFile.mkdirs()
        Files.write(f, Trace.render(info, ctx.tracer.all))
        System.err.println(s"[bench] trace written to ${f.getPath}")
      }

      val metrics =
        if (traced) PerLayer.of(listener.get, rec, rounds)
        else EndToEnd.all.map { case (n, u) => (n, e2e(n), u) }
      val correct = rec.failed == 0
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> rec.attempted.toString,
        "failed" -> rec.failed.toString,
        "metrics" -> Json.metrics(metrics))))
    } catch {
      case e: Throwable =>
        System.err.println(s"graftbench: run aborted: $e")
        e.printStackTrace()
        code = 1
    } finally {
      try spark.stop() catch { case _: Throwable => () }
      Files.deleteTree(workDir)
    }
    System.out.flush()
    sys.exit(code)
  }
}

/** The per-layer metrics every traced run prints: Spark engine counters
  * of the timed operations (not of the untimed checks), per round.
  */
object PerLayer {
  def of(l: EngineListener, rec: Recorder, rounds: Int): Seq[(String, Double, String)] = {
    val a = l.total(_ != "(none)")
    val r = math.max(rounds, 1).toDouble
    val tasks = if (a.taskMs.isEmpty) Seq(0.0) else a.taskMs.map(_.toDouble).toSeq
    val opMs = rec.okOps.map(_.ms).sum
    Seq(
      ("spark.jobs", a.jobs / r, "count"),
      ("spark.stages", a.stages / r, "count"),
      ("spark.tasks", a.tasks / r, "count"),
      ("spark.task_cpu_ms", a.cpuNs / 1e6 / r, "ms"),
      ("spark.gc_ms", a.gcMs / r, "ms"),
      ("spark.shuffle_write_mb", a.shuffleWriteB / 1048576.0 / r, "MB"),
      ("spark.spill_mb", a.spillB / 1048576.0 / r, "MB"),
      ("spark.max_task_ms", tasks.max, "ms"),
      ("spark.median_task_ms", Stats.median(tasks), "ms"),
      ("spark.job_ms", a.jobMs / r, "ms"),
      ("driver_ms", (opMs - a.jobMs) / r, "ms"),
      ("round_ms", opMs / r, "ms"),
      ("process_cpu_ms", rec.okOps.map(_.cpuMs).sum / r, "ms"),
    )
  }
}

/** The end-to-end metrics every workload prints, with their units. */
object EndToEnd {
  val all: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
  )
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
  def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L) else f.length()
  def write(f: java.io.File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
}

/** The trace file: the run summary, then one line per span. */
object Trace {
  def render(summary: String, spans: Seq[Span]): String = {
    val sb = new StringBuilder(summary).append('\n')
    spans.sortBy(_.start).foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_us" -> (s.start / 1000).toString, "end_us" -> (s.end / 1000).toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString)) += '\n'
    }
    sb.result()
  }
}
