package graftbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A generated line item: the columns the oracle aggregates. */
final case class Li(orderkey: Long, partkey: Long, suppkey: Long, qty: Double, price: Double,
                    disc: Double, flag: String, status: String, ship: LocalDate) {
  def year: LocalDate = ship.withDayOfYear(1)
  def month: LocalDate = ship.withDayOfMonth(1)
  def qtyBand: Long = (math.floor(qty / 10) * 10).toLong
}

/** Seeded rows with TPC-H lineitem's schema, so `Tpch.lineitemCube`
  * applies. Quantities are whole numbers and prices whole cents; the
  * return flag and line status follow the TPC-H rule around 1995-06-17.
  */
object Lineitem {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", DateType, nullable = false),
    StructField("l_commitdate", DateType, nullable = false),
    StructField("l_receiptdate", DateType, nullable = false),
    StructField("l_shipinstruct", StringType, nullable = false),
    StructField("l_shipmode", StringType, nullable = false),
    StructField("l_comment", StringType, nullable = false)))

  private val Start = LocalDate.of(1992, 1, 2)
  private val Days = 2520
  private val Cutoff = LocalDate.of(1995, 6, 17)
  private val Instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** `nOrders` orders of 1–7 lines each, order keys from `firstOrder`. */
  def generate(rng: java.util.Random, firstOrder: Long, nOrders: Int, suppliers: Int): (Vector[Li], Vector[Row]) = {
    val lis = Vector.newBuilder[Li]
    val rows = Vector.newBuilder[Row]
    var o = 0
    while (o < nOrders) {
      val ok = firstOrder + o
      val orderDate = Start.plusDays(rng.nextInt(Days).toLong)
      val lines = 1 + rng.nextInt(7)
      var ln = 1
      while (ln <= lines) {
        val part = 1L + rng.nextInt(2000)
        val supp = 1L + rng.nextInt(suppliers)
        val qty = (1 + rng.nextInt(50)).toDouble
        val price = math.round(qty * (90000 + part % 20001) / 100.0) / 100.0
        val disc = rng.nextInt(11) / 100.0
        val tax = rng.nextInt(9) / 100.0
        val ship = orderDate.plusDays(1L + rng.nextInt(121))
        val commit = orderDate.plusDays(30L + rng.nextInt(61))
        val receipt = ship.plusDays(1L + rng.nextInt(30))
        val flag = if (!receipt.isAfter(Cutoff)) (if (rng.nextBoolean()) "R" else "A") else "N"
        val status = if (ship.isAfter(Cutoff)) "O" else "F"
        lis += Li(ok, part, supp, qty, price, disc, flag, status, ship)
        rows += Row(ok, part, supp, ln, qty, price, disc, tax, flag, status,
          java.sql.Date.valueOf(ship), java.sql.Date.valueOf(commit), java.sql.Date.valueOf(receipt),
          Instruct(rng.nextInt(Instruct.length)), Modes(rng.nextInt(Modes.length)),
          s"generated line $ok-$ln")
        ln += 1
      }
      o += 1
    }
    (lis.result(), rows.result())
  }

  def frame(spark: SparkSession, rows: Seq[Row], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
}

/** Running aggregates of one group, in plain Scala. */
final class Acc {
  var n = 0L
  var sumQty = 0.0; var sumQty2 = 0.0; var sumPrice = 0.0; var sumDiscPrice = 0.0
  var minQty = Double.MaxValue; var maxQty = Double.MinValue
  val flags = scala.collection.mutable.Set.empty[String]
  def add(l: Li): Acc = {
    n += 1; sumQty += l.qty; sumQty2 += l.qty * l.qty; sumPrice += l.price
    sumDiscPrice += l.price * (1 - l.disc)
    minQty = math.min(minQty, l.qty); maxQty = math.max(maxQty, l.qty)
    flags += l.flag
    this
  }
  /** A measure of `Tpch.lineitemCube` by name; None is SQL NULL. */
  def measure(name: String): Option[Any] = name match {
    case "sum_qty"        => Some(sumQty)
    case "sum_price"      => Some(sumPrice)
    case "sum_disc_price" => Some(sumDiscPrice)
    case "n_rows"         => Some(n)
    case "avg_qty"        => Some(sumQty / n)
    case "std_qty"        => if (n < 2) None else Some(math.sqrt(math.max(0.0, (sumQty2 - sumQty * sumQty / n) / (n - 1))))
    case "min_qty"        => Some(minQty)
    case "max_qty"        => Some(maxQty)
    case "grp_flag"       => if (flags.size == 1) Some(flags.head) else None
    case other            => throw new IllegalArgumentException(s"oracle has no measure $other")
  }
}

/** The independent oracle for cube answers: group-by over generated rows. */
object Oracle {
  def aggregate[K](rows: Iterable[Li], key: Li => K): Map[K, Acc] = {
    val m = scala.collection.mutable.HashMap.empty[K, Acc]
    rows.foreach(l => m.getOrElseUpdate(key(l), new Acc).add(l))
    m.toMap
  }

  /** Label value of a row under a `Tpch.lineitemCube` label, rendered the
    * way Spark renders it in JSON/CSV/collect.
    */
  def label(l: Li, name: String): String = name match {
    case "l_returnflag"    => l.flag
    case "l_linestatus"    => l.status
    case "l_suppkey"       => l.suppkey.toString
    case "l_shipdate_year" => l.year.toString
    case "l_shipdate_month" => l.month.toString
    case "l_quantity_band" => l.qtyBand.toString
    case other             => throw new IllegalArgumentException(s"oracle has no label $other")
  }

  /** The rows an equality-filtered query reads. */
  def where(rows: Iterable[Li], filters: Seq[graft.cube.Filter]): Iterable[Li] =
    rows.filter(l => filters.forall { f =>
      require(f.op == graft.cube.FilterOp.Eq, s"oracle supports equality filters only, got ${f.op}")
      label(l, f.name) == String.valueOf(f.value)
    })

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Compare one answer cell (as parsed from a response) with the oracle. */
  def same(got: Any, want: Option[Any]): Boolean = (got, want) match {
    case (null, None) => true
    case (_, None) | (null, _) => false
    case (g, Some(w: Double)) => toD(g).exists(close(_, w))
    case (g, Some(w: Long)) => toD(g).exists(_ == w.toDouble)
    case (g, Some(w)) => String.valueOf(g) == String.valueOf(w)
  }
  def toD(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case s: String => s.replace(",", "").toDoubleOption
    case _ => None
  }

  /** Check answer rows (label → value maps) against the oracle's groups for
    * `axes` and `values`. Returns a mismatch description, or None.
    */
  def diff(got: Seq[Map[String, Any]], rows: Iterable[Li], axes: Seq[String],
           values: Seq[String]): Option[String] = {
    val want = aggregate(rows, (l: Li) => axes.map(a => label(l, a)))
    if (got.length != want.size) return Some(s"${got.length} rows, oracle has ${want.size}")
    got.foreach { r =>
      val k = axes.map(a => String.valueOf(r.getOrElse(a, null)))
      want.get(k) match {
        case None => return Some(s"unexpected group $k")
        case Some(acc) => values.foreach { v =>
          if (!same(r.getOrElse(v, null), acc.measure(v)))
            return Some(s"group $k $v=${r.getOrElse(v, null)} oracle ${acc.measure(v)}")
        }
      }
    }
    None
  }
}
