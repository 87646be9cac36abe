package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.cube._
import graft.tables.Tpch

/** cube_ingest: the write path of the same board, with warehouse
  * persistence on. A fixed set of maintained slices fits the board; one of
  * them carries a measure (GroupConsistent) that every write must evict.
  * Each round is one write — two appends of a seeded delta, then one keyed
  * delete, in turn — followed by drill reads on the maintained slices;
  * every third round adds a read of the evicted slice and one root over
  * the grown base.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val cube = Tpch.lineitemCube
  private val tr = ctx.tracer

  private val live = mutable.ArrayBuffer.empty[Li]
  private var nextOrder = 1L
  private var board: CuttingBoard = _
  private var warehouse: java.io.File = _
  private var roundNo = 0
  private var rng: java.util.Random = _
  private val writes = mutable.ArrayBuffer.empty[(Int, Int, Long)] // slices rewritten, evicted, bytes written

  private def q(axes: Seq[String], values: Seq[String]): CubeQuery =
    CubeQuery(axes = axes.toVector, valueDefs = values.toVector.map(_ -> true))
  private val maintained = Seq(
    q(Seq("l_returnflag", "l_linestatus"), Seq("sum_qty", "n_rows", "avg_qty", "std_qty")),
    q(Seq("l_shipdate_month"), Seq("sum_price", "n_rows")))
  /** GroupConsistent cannot be merged, so every append and delete evicts it. */
  private val evictable = q(Seq("l_linestatus"), Seq("grp_flag", "n_rows"))
  private val rootQ = q(Seq("l_suppkey"), Seq("sum_price", "n_rows")).orderBy("-sum_price").setLimit(10)

  def setup(): Unit = {
    rng = new java.util.Random(ctx.seed)
    val (lis, rows) = Lineitem.generate(rng, 1L, BaseOrders, Suppliers)
    live ++= lis
    nextOrder = BaseOrders + 1L
    warehouse = new java.io.File(ctx.workDir, "warehouse")
    val base = Lineitem.frame(ctx.spark, rows, ctx.cores).persist(StorageLevel.MEMORY_ONLY)
    base.count()
    board = new CuttingBoard(base, cube, maxSlices = maintained.length + 2,
      warehouseDir = Some(warehouse.getAbsolutePath))
    (maintained :+ evictable).foreach(m => board.slice(m).count())
  }

  def warmUp(): Unit = {
    val warm = new Recorder
    (1 to WarmRounds).foreach(_ => round(warm))
    require(warm.failed == 0, s"warm-up failed: ${warm.failureSummary}")
    writes.clear()
  }

  /** Slice answers as label → value maps. */
  private def answer(df: DataFrame): Seq[Map[String, Any]] =
    df.collect().map(r => r.getValuesMap[Any](r.schema.fieldNames)).toSeq

  private def diff(got: Seq[Map[String, Any]], query: CubeQuery, rows: Iterable[Li]): Option[String] =
    Oracle.diff(got, Oracle.where(rows, query.filters), query.axes, query.values)

  def round(rec: Recorder): Unit = {
    val r = roundNo
    roundNo += 1
    if (r % 3 == 2) delete(rec) else append(rec)
    // every maintained slice equals the oracle over base + deltas − deletes
    rec.lastOp.filter(_.ok).foreach { op =>
      maintained.foreach { m =>
        val bad = diff(answer(board.slice(m)), m, live)
        rec.check(op, bad.isEmpty, s"${UrlQueryBuilder.toUrlString(m, cube)} after ${op.cls}: ${bad.getOrElse("")}")
      }
    }
    val flag = Seq("A", "N", "R")(r % 3)
    val drills = Seq(
      new Navigator(cube, maintained(0)).drill(flag).query,
      q(Seq("l_shipdate_year"), Seq("sum_price", "n_rows"))) // month slice widened to years
    drills.foreach(d => read(rec, "drill", d))
    // the evicted slice is recomputed over the grown base: read it with
    // the root, so the drill median stays within the served slices' mode
    if (r % 3 == 0) { read(rec, "drill", evictable); read(rec, "root", rootQ) }
  }

  private def read(rec: Recorder, cls: String, query: CubeQuery): Unit = {
    ctx.beginOp(cls)
    val res = rec.time(cls) {
      tr.span(s"request.$cls") {
        val (_, m0) = board.stats
        val df = tr.span("cube.slice")(board.slice(query))
        tr.relabelLast(if (board.stats._2 > m0) "cube.slice_miss" else "cube.slice_hit")
        tr.span("cube.collect")(answer(df))
      }
    }
    ctx.endOp()
    res.foreach { case (got, op) =>
      val want =
        if (query.limit.isEmpty) diff(got, query, live)
        else {
          // top suppliers by revenue: compare the ordered top rows
          val all = Oracle.aggregate(live, (l: Li) => l.suppkey).toSeq
            .sortBy { case (_, a) => -a.sumPrice }.take(query.limit.get)
          val ok = got.length == all.length && got.zip(all).forall { case (g, (s, a)) =>
            String.valueOf(g("l_suppkey")) == s.toString &&
              Oracle.same(g("sum_price"), Some(a.sumPrice)) && Oracle.same(g("n_rows"), Some(a.n))
          }
          if (ok) None else Some("top suppliers differ from the oracle")
        }
      rec.check(op, want.isEmpty, s"${UrlQueryBuilder.toUrlString(query, cube)}: ${want.getOrElse("")}")
    }
  }

  private def append(rec: Recorder): Unit = {
    val (lis, rows) = Lineitem.generate(rng, nextOrder, DeltaOrders, Suppliers)
    nextOrder += DeltaOrders
    val delta = Lineitem.frame(ctx.spark, rows, ctx.cores)
    write(rec, "append", lis.length.toDouble)(board.append(delta))
    live ++= lis
  }

  private def delete(rec: Recorder): Unit = {
    val orders = live.iterator.map(_.orderkey).toVector.distinct
    val keys = Vector.fill(DeleteOrders)(orders(rng.nextInt(orders.length))).distinct
    val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(keys.map(Row(_)), 1),
      StructType(Seq(StructField("l_orderkey", LongType, nullable = false))))
    write(rec, "delete", 0.0)(board.delete(df, keyCols = Seq("l_orderkey")))
    val gone = keys.toSet
    live.filterInPlace(l => !gone.contains(l.orderkey))
  }

  private def write(rec: Recorder, cls: String, units: Double)(body: => Unit): Unit = {
    val before = if (ctx.traced) Some(Warehouse.snapshot(warehouse)) else None
    ctx.beginOp(cls)
    rec.time(cls, units)(tr.span(s"cube.$cls")(body))
    ctx.endOp()
    before.foreach { b =>
      val a = Warehouse.snapshot(warehouse)
      val rewritten = a.filter { case (fp, (stamp, _)) => b.get(fp).exists(_._1 != stamp) }
      writes += ((rewritten.size, b.keySet.diff(a.keySet).size, rewritten.values.map(_._2).sum))
    }
  }

  /** After the loop, a fresh board over the same warehouse reloads the
    * maintained slices, and they equal the oracle.
    */
  def finish(rec: Recorder): Unit = {
    val fresh = new CuttingBoard(board.dataset, cube, maxSlices = maintained.length + 2,
      warehouseDir = Some(warehouse.getAbsolutePath))
    val op = rec.lastOp.get
    maintained.foreach { m =>
      val got = answer(fresh.slice(m))
      rec.check(op, diff(got, m, live).isEmpty, s"reloaded ${UrlQueryBuilder.toUrlString(m, cube)}")
    }
    rec.check(op, fresh.stats._2 == 0, s"a fresh board recomputed ${fresh.stats._2} maintained slices")
    fresh.clear()
  }

  def report(rec: Recorder): Report = {
    def p50(cls: String) = Stats.median(rec.walls(cls))
    val ops = rec.okOps
    val rowsPerS = ops.map(_.units).sum / (ops.map(_.ms).sum / 1000)
    val storedMb = Files.sizeOf(warehouse) / 1048576.0
    val named = Seq(
      ("append_p50_ms", p50("append"), "ms"), ("delete_p50_ms", p50("delete"), "ms"),
      ("root_p50_ms", p50("root"), "ms"), ("drill_p50_ms", p50("drill"), "ms"),
      ("ingest_rows_per_s", rowsPerS, "1/s"), ("stored_mb", storedMb, "MB"),
      ("samples_append", rec.walls("append").length.toDouble, "count"),
      ("samples_delete", rec.walls("delete").length.toDouble, "count"),
      ("samples_root", rec.walls("root").length.toDouble, "count"),
      ("base_rows", live.length.toDouble, "count"))
    val layers = if (!ctx.traced) Nil else {
      val l = ctx.listener.get
      val n = math.max(writes.length, 1).toDouble
      val plan = board.dataset.queryExecution.logical
      Seq(
        ("cube.append_ms", tr.meanMs("cube.append"), "ms"),
        ("cube.delete_ms", tr.meanMs("cube.delete"), "ms"),
        ("cube.slices_maintained", writes.map(_._1).sum / n, "count"),
        ("cube.slices_evicted", writes.map(_._2).sum / n, "count"),
        ("cube.warehouse_mb_written", writes.map(_._3).sum / 1048576.0 / n, "MB"),
        ("cube.base_plan_nodes", plan.collect { case p => p }.length.toDouble, "count"),
        ("cube.slice_miss_ms", tr.meanMs("cube.slice_miss"), "ms"),
        ("cube.slice_hit_ms", tr.meanMs("cube.slice_hit"), "ms"),
        ("cube.collect_ms", tr.meanMs("cube.collect"), "ms"),
      ) ++ Seq("append", "delete", "drill", "root").flatMap(c => ClassCounters.of(l, c, rec.walls(c).length))
    }
    Report(
      generic = Map("throughput_per_s" -> rowsPerS, "op_p50_ms" -> p50("append")),
      named = named, layers = layers)
  }
}

object Ingest {
  val BaseOrders = 4000     // ~16k line items before the first write
  val DeltaOrders = 250     // ~1000 line items per append
  val DeleteOrders = 40     // order keys per keyed delete
  val Suppliers = 100
  val WarmRounds = 3
}

/** The warehouse as the benchmark sees it from outside: per slice table,
  * its manifest's contents (they carry the write stamp) and its bytes.
  */
object Warehouse {
  def snapshot(dir: java.io.File): Map[String, (String, Long)] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.getName.startsWith("slice_") && f.getName.endsWith(".manifest"))
      .map { mf =>
        val table = new java.io.File(dir, mf.getName.stripSuffix(".manifest"))
        val stamp = try new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
          catch { case _: java.io.IOException => "" }
        table.getName -> (stamp, Files.sizeOf(table))
      }.toMap
}
