package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** Canonical, engine-neutral form of result values: the same shapes
  * `check.py` gives DuckDB's answers (numbers, strings, ISO timestamps in
  * UTC, hex binaries, lists, name-keyed structs), so the two sides can be
  * compared value by value. Floats compare within 1e-9 (relative above
  * 1, absolute below), as `tools/compare.py` reports them.
  */
object Canon {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def ts(l: LocalDateTime): String = tsFmt.format(l)

  def num(d: Double): Any =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else d

  def value(v: Any): Any = v match {
    case null => null
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case t: java.sql.Timestamp => ts(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case i: java.time.Instant => ts(LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    case l: LocalDateTime => ts(l)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row =>
      if (r.schema != null) r.schema.fieldNames.toSeq.zip(r.toSeq.map(value)).toMap
      else r.toSeq.map(value)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(value(k)) -> value(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(value).toSeq
    case a: Array[_] => a.toSeq.map(value)
    case x: java.lang.Byte => x.intValue
    case x: java.lang.Short => x.intValue
    case other => other
  }

  def rows(rs: Array[Row]): Seq[Any] = rs.toSeq.map(r => r.toSeq.map(value))

  /** Sort key: floats rounded to 9 significant digits so a last-bit
    * difference cannot reorder rows. */
  def key(v: Any): String = v match {
    case null => "~"
    case d: Double => "%.9g".format(d)
    case s: Seq[_] => s.map(key).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k" -> key(x) }.sortBy(_._1).mkString("{", ",", "}")
    case other => other.toString
  }

  def approxEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => approxEq(p, q) }
    case (x: Map[_, _], y: Map[_, _]) =>
      x.keySet == y.keySet && x.forall { case (k, v) => approxEq(v, y.asInstanceOf[Map[Any, Any]](k)) }
    case _ => a == b
  }

  def sameRows(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && approxEq(a.sortBy(key), b.sortBy(key))
}
