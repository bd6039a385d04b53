package graft.perfbench

import java.math.MathContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** One recorded query: its name, and the row count and normalized hash the
  * seed commit produced. `stable = false` marks a query whose hash differed
  * between two recording runs; it is checked by row count only. */
final case class Expected(name: String, rows: Long, hash: Long, stable: Boolean)

/** The frozen query sample and its recorded results (`queries.tsv`). */
object Expected {
  private def rows(path: String): Vector[Array[String]] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t")).toVector
    finally src.close()
  }
  def names(path: String): Seq[String] = rows(path).map(_.head)
  def load(path: String): Seq[Expected] = rows(path).map { case Array(n, r, h, s) =>
    Expected(n, r.toLong, h.toLong, s == "stable")
  }
}

/** Runs corpus queries: each run builds a fresh DataFrame and materializes
  * every row of it, hashing the rows order-independently on the way. */
object Suite {
  final case class Run(name: String, wall: Double, rows: Long, hash: Long, planningMs: Double,
                       error: String = null)

  def run(spark: SparkSession, name: String, fixture: String): Run = {
    val t0 = System.nanoTime()
    try {
      val df = graft.SparkEntry.queries(name)(spark, fixture)
      val (rows, hash) = materialize(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val planning = df.queryExecution.tracker.phases.values.map(p => p.durationMs.toDouble).sum
      Run(name, wall, rows, hash, planning)
    } catch {
      case e: Exception => Run(name, (System.nanoTime() - t0) / 1e9, -1, 0, 0, e.toString)
    }
  }

  /** (row count, sum of 32-bit normalized row hashes). */
  def materialize(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L; var h = 0L
      val sb = new java.lang.StringBuilder
      rows.foreach { r =>
        sb.setLength(0)
        normRow(r, schema, sb)
        h += Murmur3x86.hash32(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)) & 0xffffffffL
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private val Sig = new MathContext(9)

  /** Floats to 9 significant digits (summation order moves the last bits);
    * map entries sorted; everything else in its natural text form. */
  private def fmt(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toString

  private def normRow(r: InternalRow, st: StructType, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < st.fields.length) {
      norm(if (r.isNullAt(i)) null else r.get(i, st.fields(i).dataType), st.fields(i).dataType, sb)
      sb.append('\u0001'); i += 1
    }
  }

  private def norm(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("∅")
    else dt match {
      case DoubleType => sb.append(fmt(v.asInstanceOf[Double]))
      case FloatType => sb.append(fmt(v.asInstanceOf[Float].toDouble))
      case _: DecimalType =>
        sb.append(fmt(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble))
      case BinaryType => sb.append(java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]))
      case st: StructType => sb.append('('); normRow(v.asInstanceOf[InternalRow], st, sb); sb.append(')')
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          norm(if (a.isNullAt(i)) null else a.get(i, et), et, sb); sb.append(','); i += 1
        }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          norm(m.keyArray().get(i, kt), kt, e); e.append('=')
          norm(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append(entries.mkString("{", ",", "}"))
      case _ => sb.append(v.toString)
    }

  /** Check one run against its recorded result. */
  def check(r: Run, e: Expected, led: Ledger): Unit = {
    if (r.error != null) led.expect(s"queries.${r.name}.runs", ok = false, r.error)
    else {
      led.expectEq(s"queries.${r.name}.rows", e.rows, r.rows)
      if (e.stable) led.expect(s"queries.${r.name}.hash", r.hash == e.hash, s"${r.hash} vs ${e.hash}")
    }
  }

  def runJson(r: Run, phase: String, ledger: Map[String, Any]): ListMap[String, Any] =
    ListMap("query" -> r.name, "phase" -> phase, "wall_s" -> r.wall, "rows" -> r.rows,
      "planning_ms" -> r.planningMs, "error" -> r.error) ++ ledger
}
