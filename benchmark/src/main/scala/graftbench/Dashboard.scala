package graftbench

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.cube._
import graft.tables.Tpch

/** cube_dashboard: one HTTP client in a closed loop against one
  * CubeService over one in-memory CuttingBoard. Each round is one view:
  * a root `rows` request filtered on a supplier no cached slice covers,
  * five drills built with Navigator from the root (`rows` and `csv`, 1-D
  * `html` with totals and `rows` of a second drill, `nav`) and one pivot
  * on the `table` route. Two of the five drills are `rows`, so the drill
  * median falls inside one route's mode rather than between two.
  * Requests are classed by the kind the generator gave them.
  */
final class Dashboard(ctx: Ctx) extends Workload {
  import Dashboard._
  private val cube = Tpch.lineitemCube
  private val tr = ctx.tracer
  private val json = new ObjectMapper()

  private var bySupp: Map[Long, Vector[Li]] = Map.empty
  private var base: DataFrame = _
  private var board: CuttingBoard = _
  private var service: Option[CubeService] = None
  private var port = 0
  private var view = 0
  private var statsAtLoop = (0L, 0L)
  /** The drills of the last view with their parsed answers, re-run on a
    * fresh board after the loop.
    */
  private var lastDrills: Seq[(CubeQuery, Seq[Map[String, Any]], Op)] = Nil

  /** Suppliers in the order views visit them: more suppliers than the
    * board holds slices, so every root misses and slices get evicted.
    */
  private val supplierOrder: Array[Long] = {
    val xs = (1L to Suppliers.toLong).toArray
    val rng = new java.util.Random(ctx.seed ^ 0x5eedL)
    for (i <- xs.indices.reverse) { val j = rng.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t }
    xs
  }

  def setup(): Unit = {
    val (lis, rows) = Lineitem.generate(new java.util.Random(ctx.seed), 1L, Orders, Suppliers)
    bySupp = lis.groupBy(_.suppkey)
    base = Lineitem.frame(ctx.spark, rows, ctx.cores).persist(StorageLevel.MEMORY_ONLY)
    base.count()
    board = new CuttingBoard(base, cube, maxSlices = Capacity)
    if (!ctx.traced) {
      val s = new CubeService(Map("lineitem" -> board))
      port = s.start()
      service = Some(s)
    }
  }

  def warmUp(): Unit = {
    val warm = new Recorder
    (1 to WarmViews).foreach(_ => round(warm))
    require(warm.failed == 0, s"warm-up failed: ${warm.failureSummary}")
    statsAtLoop = board.stats
  }

  private def year(y: Int): java.sql.Date = java.sql.Date.valueOf(LocalDate.of(y, 1, 1))
  private def url(q: CubeQuery): String = UrlQueryBuilder.toUrlString(q, cube)

  def round(rec: Recorder): Unit = {
    val k = view
    view += 1
    val supp = supplierOrder(k % Suppliers)
    val rng = new java.util.Random(ctx.seed * 1000003L + k)
    val y1 = 1992 + rng.nextInt(7)
    val y2 = 1992 + (y1 - 1992 + 1 + rng.nextInt(6)) % 7
    val root = CubeQuery(axes = Vector("l_shipdate_year", "l_returnflag"),
      valueDefs = Values.map(_ -> true)).addFilter("l_suppkey", supp.toString)
    val nav = new Navigator(cube, root)
    val d1 = nav.drill(year(y1)).query
    val d2 = nav.dropAxis("l_returnflag")
    val d3 = nav.drill(year(y2)).query
    val pivotQ = CubeQuery().addFilter("l_suppkey", supp.toString)
    val rows = bySupp.getOrElse(supp, Vector.empty)
    def inYear(y: Int) = rows.filter(_.year.getYear == y)

    request(rec, "root", "rows", root) { (op, body) =>
      check(rec, op, Oracle.diff(jsonRows(body), rows, root.axes, Values))
    }
    val got1 = request(rec, "drill", "rows", d1) { (op, body) =>
      val got = jsonRows(body)
      check(rec, op, Oracle.diff(got, inYear(y1), d1.axes, Values))
      got
    }
    val got2 = request(rec, "drill", "csv", d2) { (op, body) =>
      val got = csvRows(body)
      check(rec, op, Oracle.diff(got, rows, d2.axes, Values))
      got
    }
    request(rec, "drill", "html", d3) { (op, body) =>
      check(rec, op, htmlDiff(body, inYear(y2), d3.axes))
    }
    request(rec, "drill", "rows", d3) { (op, body) =>
      check(rec, op, Oracle.diff(jsonRows(body), inYear(y2), d3.axes, Values))
    }
    request(rec, "drill", "nav", d1) { (op, body) =>
      val n = json.readTree(body)
      val ok = n.path("filters").size() == d1.filters.length && n.path("axes").size() > 0
      check(rec, op, if (ok) None else Some(s"nav payload: $body".take(200)))
    }
    request(rec, "pivot", "table", pivotQ, "&row=l_returnflag&col=l_linestatus&m=sum_qty") { (op, body) =>
      check(rec, op, tableDiff(json.readTree(body), rows))
    }
    lastDrills = Seq(got1.map(g => (d1, g._1, g._2)), got2.map(g => (d2, g._1, g._2))).flatten
  }

  /** Issue one request: over HTTP in untraced runs, as the same layer calls
    * on this thread in traced runs. `verify` runs untimed on the body.
    */
  private def request[T](rec: Recorder, cls: String, verb: String, q: CubeQuery, extra: String = "")
                        (verify: (Op, String) => T): Option[(T, Op)] = {
    val u = url(q)
    ctx.beginOp(cls)
    val res = rec.time(cls) {
      tr.span(s"request.$cls") { if (ctx.traced) direct(verb, u) else http(verb, u, extra) }
    }
    ctx.endOp()
    res.map { case (body, op) => (verify(op, body), op) }
  }

  private def check(rec: Recorder, op: Op, mismatch: Option[String]): Unit =
    rec.check(op, mismatch.isEmpty, mismatch.getOrElse(""))

  private def http(verb: String, u: String, extra: String): String = {
    val path = s"/cube/lineitem/$verb?q=${java.net.URLEncoder.encode(u, "UTF-8")}$extra"
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    if (code / 100 != 2) throw new IllegalStateException(s"HTTP $code: ${body.take(200)}")
    body
  }

  /** The CubeService handler's calls for each route, made directly. */
  private def direct(verb: String, u: String): String = {
    val q = tr.span("cube.parse")(UrlQueryBuilder.parse(u, cube))
    def slice(q: CubeQuery): DataFrame = {
      val (_, m0) = board.stats
      val df = tr.span("cube.slice")(board.slice(q))
      tr.relabelLast(if (board.stats._2 > m0) "cube.slice_miss" else "cube.slice_hit")
      tr.span("cube.plan")(df.queryExecution.executedPlan)
      df
    }
    verb match {
      case "rows" => val df = slice(q); tr.span("cube.render")(Observers.toJsonRows(df))
      case "csv" => val df = slice(q); tr.span("cube.render")(Observers.toCsv(df))
      case "html" =>
        val totalsQ = q.copy(axes = Vector.empty, pivots = Set.empty, order = Vector.empty,
          limit = None, offset = None)
        val (df, tot) = (slice(q), slice(totalsQ))
        tr.span("cube.render")(Observers.htmlTable1d(df, new Navigator(cube, q), totals = Some(tot)))
      case "nav" => tr.span("cube.nav")(Observers.navJson(new Navigator(cube, q)))
      case "table" => tr.span("cube.pivot") {
        val t = Observers.pivotTable(board.dataset, cube, "l_returnflag", "l_linestatus", "sum_qty", q.filters)
        Observers.tableJson(t, new Navigator(cube, q))
      }
    }
  }

  private def jsonRows(body: String): Seq[Map[String, Any]] =
    json.readTree(body).elements().asScala.map { n =>
      n.fields().asScala.map(e => e.getKey -> nodeValue(e.getValue)).toMap
    }.toSeq

  private def nodeValue(n: JsonNode): Any =
    if (n.isNull) null else if (n.isNumber) n.numberValue() else n.asText()

  private def csvRows(body: String): Seq[Map[String, Any]] = {
    val lines = body.split("\n").toSeq
    val header = lines.head.split(",", -1).toSeq
    lines.tail.map(l => header.zip(l.split(",", -1).toSeq.map(c => if (c.isEmpty) null else c)).toMap)
  }

  /** The 1-D html table: one value row per oracle group, and a totals row
    * equal to the oracle over every row of the drill.
    */
  private def htmlDiff(body: String, rows: Seq[Li], axes: Seq[String]): Option[String] = {
    val groups = Oracle.aggregate(rows, (l: Li) => axes.map(Oracle.label(l, _))).size
    val valueRows = "<tr class=\"values\">".r.findAllMatchIn(body).length
    if (valueRows != groups) return Some(s"html has $valueRows rows, oracle $groups")
    val totals = "<tr class=\"totals\">(.*?)</tr>".r.findFirstMatchIn(body)
      .map(m => "<td class=\"value\">([^<]*)</td>".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(return Some("html has no totals row"))
    val all = Oracle.aggregate(rows, (_: Li) => ()).getOrElse((), new Acc)
    Values.zip(totals).collectFirst {
      case (v, cell) if !Oracle.toD(cell).exists(g =>
          all.measure(v).flatMap(Oracle.toD).exists(w => math.abs(g - w) <= 0.0051 + 1e-9 * math.abs(w))) =>
        s"html total $v=$cell oracle ${all.measure(v)}"
    }
  }

  /** The pivot table payload: cells, row and column totals and the grand
    * total of sum_qty over (return flag × line status).
    */
  private def tableDiff(t: JsonNode, rows: Seq[Li]): Option[String] = {
    def sumOf(p: Li => Boolean): Double = rows.filter(p).map(_.qty).sum
    def bad(got: JsonNode, want: Double): Boolean = !(got.isNumber && Oracle.close(got.asDouble(), want))
    val cols = t.path("columns").elements().asScala.map(_.path("key").asText()).toVector
    val wantCols = rows.map(_.status).distinct.sorted
    val wantRows = rows.map(_.flag).distinct.sorted
    if (cols != wantCols) return Some(s"pivot columns $cols, oracle $wantCols")
    val rs = t.path("rows").elements().asScala.toVector
    if (rs.map(_.path("key").asText()) != wantRows) return Some(s"pivot rows differ from $wantRows")
    rs.foreach { r =>
      val f = r.path("key").asText()
      r.path("cells").elements().asScala.zip(cols).foreach { case (c, s) =>
        val want = sumOf(l => l.flag == f && l.status == s)
        val got = c.path("value")
        if (want == 0.0 && got.isNull) () else if (bad(got, want)) return Some(s"pivot cell $f/$s")
      }
      if (bad(r.path("total"), sumOf(_.flag == f))) return Some(s"pivot row total $f")
    }
    t.path("col_totals").elements().asScala.zip(cols).foreach { case (c, s) =>
      if (bad(c, sumOf(_.status == s))) return Some(s"pivot column total $s")
    }
    if (bad(t.path("grand_total"), sumOf(_ => true))) Some("pivot grand total") else None
  }

  /** A drill served from cache equals the same query on a fresh board. */
  def finish(rec: Recorder): Unit = {
    val fresh = new CuttingBoard(base, cube, maxSlices = Capacity)
    lastDrills.foreach { case (q, got, op) =>
      val recomputed = fresh.slice(q).collect().map(r => r.getValuesMap[Any](r.schema.fieldNames)).toSeq
      val key = (m: Map[String, Any]) => q.axes.map(a => String.valueOf(m.getOrElse(a, null))).mkString("|")
      val a = got.sortBy(key); val b = recomputed.sortBy(key)
      val same = a.length == b.length && a.zip(b).forall { case (x, y) =>
        key(x) == key(y) && Values.forall(v => Oracle.same(x.getOrElse(v, null), Option(y.getOrElse(v, null))))
      }
      check(rec, op, if (same) None else Some(s"cached drill differs from a fresh board: ${url(q)}"))
    }
    fresh.clear()
    service.foreach(_.stop())
  }

  def report(rec: Recorder): Report = {
    def p(cls: String, q: Double): Option[Double] = {
      val w = rec.walls(cls)
      if (w.nonEmpty && (q == 0.5 || Stats.supports(w.length, q))) Some(Stats.quantile(w, q)) else None
    }
    val ops = rec.okOps
    val rps = ops.length / (ops.map(_.ms).sum / 1000)
    val named = Seq(
      p("root", 0.5).map(("root_p50_ms", _, "ms")), p("root", 0.9).map(("root_p90_ms", _, "ms")),
      p("drill", 0.5).map(("drill_p50_ms", _, "ms")), p("drill", 0.9).map(("drill_p90_ms", _, "ms")),
      p("pivot", 0.5).map(("pivot_p50_ms", _, "ms")), Some(("requests_per_s", rps, "1/s")),
      Some(("samples_root", rec.walls("root").length.toDouble, "count")),
      Some(("samples_drill", rec.walls("drill").length.toDouble, "count")),
      Some(("samples_pivot", rec.walls("pivot").length.toDouble, "count")),
    ).flatten
    val layers = if (!ctx.traced) Nil else {
      val l = ctx.listener.get
      val (h, m) = board.stats
      val (h0, m0) = statsAtLoop
      // per drill: Spark job wall inside its render call, and the rest of it
      val drillOps = tr.all.filter(_.name == "request.drill").map(_.op).toSet
      val drillRenders = tr.all.filter(sp => sp.name == "cube.render" && drillOps(sp.op)).map { sp =>
        val jobMs = l.total(_ == s"drill#${sp.op}").jobMs.toDouble
        (jobMs, (sp.end - sp.start) / 1e6 - jobMs)
      }
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
      Seq(
        ("cube.parse_us", tr.meanMs("cube.parse") * 1000, "us"),
        ("cube.slice_miss_ms", tr.meanMs("cube.slice_miss"), "ms"),
        ("cube.slice_hit_ms", tr.meanMs("cube.slice_hit"), "ms"),
        ("cube.plan_ms", tr.meanMs("cube.plan"), "ms"),
        ("cube.collect_ms", mean(drillRenders.map(_._1)), "ms"),
        ("cube.render_ms", mean(drillRenders.map(_._2)), "ms"),
        ("cube.nav_ms", tr.meanMs("cube.nav"), "ms"),
        ("cube.pivot_ms", tr.meanMs("cube.pivot"), "ms"),
        ("cube.hit_ratio", (h - h0).toDouble / math.max(1L, h - h0 + m - m0), "ratio"),
      ) ++ Seq("root", "drill", "pivot").flatMap(c => ClassCounters.of(l, c, rec.walls(c).length))
    }
    Report(
      generic = Map("throughput_per_s" -> rps, "op_p50_ms" -> Stats.median(rec.walls("drill"))),
      named = named, layers = layers)
  }
}

object Dashboard {
  val Orders = 10000        // ~40k line items
  val Suppliers = 100       // distinct roots, against a board of 8 slices
  val Capacity = 8
  val WarmViews = 5
  val Values: Vector[String] = Vector("sum_qty", "sum_price", "n_rows", "avg_qty")
}

/** Spark counters of one request class or pipeline stage, per operation. */
object ClassCounters {
  def of(l: EngineListener, cls: String, ops: Int): Seq[(String, Double, String)] = {
    val a = l.total(_.startsWith(cls + "#"))
    val n = math.max(ops, 1).toDouble
    val tasks = if (a.taskMs.isEmpty) Seq(0.0) else a.taskMs.map(_.toDouble).toSeq
    Seq(
      (s"$cls.spark.jobs", a.jobs / n, "count"),
      (s"$cls.spark.stages", a.stages / n, "count"),
      (s"$cls.spark.tasks", a.tasks / n, "count"),
      (s"$cls.spark.task_cpu_ms", a.cpuNs / 1e6 / n, "ms"),
      (s"$cls.spark.gc_ms", a.gcMs / n, "ms"),
      (s"$cls.spark.shuffle_write_mb", a.shuffleWriteB / 1048576.0 / n, "MB"),
      (s"$cls.spark.spill_mb", a.spillB / 1048576.0 / n, "MB"),
      (s"$cls.spark.max_task_ms", tasks.max, "ms"),
      (s"$cls.spark.median_task_ms", Stats.median(tasks), "ms"),
    )
  }
}
