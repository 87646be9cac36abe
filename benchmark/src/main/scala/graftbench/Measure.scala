package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Order statistics over a sample of walls. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A percentile is reported only when at least ten samples lie beyond it. */
  def supports(n: Int, q: Double): Boolean = n * (1 - q) >= 10 - 1e-9
}

/** One timed operation of the loop: its class, wall, units of work done
  * and process CPU time.
  */
final class Op(val cls: String, val ms: Double, val units: Double, val cpuMs: Double = 0.0) {
  var ok = true
}

/** Times operations from outside and counts them. An operation that
  * throws, or whose output check later fails, counts as failed and its
  * wall is kept out of every sample and rate.
  */
final class Recorder {
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val failures = mutable.LinkedHashMap.empty[String, Int]

  /** Run `body` timed; None when it threw. */
  def time[T](cls: String, units: Double = 1.0)(body: => T): Option[(T, Op)] = {
    val t0 = System.nanoTime()
    val c0 = Cpu.processNs
    try {
      val out = body
      val op = new Op(cls, (System.nanoTime() - t0) / 1e6, units, (Cpu.processNs - c0) / 1e6)
      ops += op
      Some((out, op))
    } catch {
      case scala.util.control.NonFatal(e) =>
        val op = new Op(cls, 0.0, 0.0)
        op.ok = false
        ops += op
        note(s"$cls threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Mark an operation failed when its output check does not hold. */
  def check(op: Op, cond: Boolean, what: => String): Unit =
    if (!cond && op.ok) { op.ok = false; note(s"${op.cls} check failed: $what") }

  private def note(msg: String): Unit = {
    failures(msg.take(120)) = failures.getOrElse(msg.take(120), 0) + 1
    if (failures(msg.take(120)) <= 3) System.err.println(s"[bench] FAILED $msg")
  }

  def lastOp: Option[Op] = ops.lastOption
  def attempted: Int = ops.length
  def failed: Int = ops.count(!_.ok)
  def cpu(cls: String): Seq[Double] = ops.iterator.filter(o => o.ok && o.cls == cls).map(_.cpuMs).toSeq
  def walls(cls: String): Seq[Double] = ops.iterator.filter(o => o.ok && o.cls == cls).map(_.ms).toSeq
  def okOps: Seq[Op] = ops.iterator.filter(_.ok).toSeq
  def classes: Seq[String] = ops.map(_.cls).distinct.toSeq
  def failureSummary: Map[String, Int] = failures.toMap
}

/** One traced call: name, start, end (ns since the trace began), the span
  * that caused it, and the operation it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** In-memory span recorder for the traced run. Spans are written to a
  * file when the run ends; nothing is written while it measures.
  */
final class Tracer(val on: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime() - t0
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, s, System.nanoTime() - t0, parent, currentOp)
      }
    }

  /** Rename the span that ended last (a name known only afterwards). */
  def relabelLast(name: String): Unit =
    if (on && spans.nonEmpty) spans(spans.length - 1) = spans.last.copy(name = name)

  def all: Seq[Span] = spans.toSeq

  /** Mean duration in ms of the spans with this name (0 when none). */
  def meanMs(name: String): Double = {
    val xs = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6)
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
  }
}

/** Task and job counters, attributed to the job group that was set on the
  * calling thread when the job was submitted (`<class>#<op>`).
  */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleWriteB = 0L; var spillB = 0L
    var jobMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
      jobMs += o.jobMs; taskMs ++= o.taskMs
    }
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  @volatile private var started = 0L
  @volatile private var ended = 0L

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    val a = acc(g)
    a.jobs += 1
    started += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t) => val a = acc(g); a.jobMs += e.time - t }
    ended += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageInfo.stageId, "(none)"))
    a.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "(none)"))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every started job has ended on the listener bus. */
  def drain(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (started != ended && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Sum of the groups whose name satisfies `pick`. */
  def total(pick: String => Boolean): Acc = synchronized {
    val out = new Acc
    byGroup.foreach { case (g, a) => if (pick(g)) out.add(a) }
    out
  }
}

/** Driver heap retained after a full collection: what the program keeps
  * live (cached frames, slices, models), independent of when the
  * collector happens to run.
  */
object Heap {
  def liveMb: Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

/** CPU time of this process (every thread: driver, task threads, GC, JIT). */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processNs: Long = os.getProcessCpuTime
}
