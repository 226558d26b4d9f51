package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** A query result in comparable form, the way `tools/selfcheck.py`
  * compares results: columns sorted by name, rows sorted, floating-point
  * values equal within 1e-3. */
object Canon {
  type Table = IndexedSeq[IndexedSeq[Any]]

  def apply(rows: Array[Row], schema: StructType): Table = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2).toIndexedSeq
    rows.iterator.map(r => order.map(i => norm(r.get(i))))
      .map(row => (sortKey(row), row)).toIndexedSeq.sortBy(_._1).map(_._2)
  }

  private def norm(v: Any): Any = v match {
    case null => null
    case d: Double => d
    case f: Float => f.toDouble
    case b: java.math.BigDecimal => b.doubleValue
    case b: BigDecimal => b.toDouble
    case n: Byte => n.toLong
    case n: Short => n.toLong
    case n: Int => n.toLong
    case n: Long => n
    case b: Boolean => b
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case other => other.toString
  }

  // floats enter the key coarsely, so that two results equal within the
  // tolerance sort alike; the full row breaks ties
  private def sortKey(row: IndexedSeq[Any]): String = row.map {
    case null => "\u0000"
    case d: Double => f"$d%.3e"
    case other => other.toString
  }.mkString("\u0001") + "\u0002" + row.mkString("\u0001")

  def sameWithin(a: Table, b: Table): Boolean =
    a.length == b.length && a.lazyZip(b).forall { (ra, rb) =>
      ra.length == rb.length && ra.lazyZip(rb).forall(close)
    }

  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) =>
      (p.isNaN && q.isNaN) || p == q || math.abs(p - q) <= 1e-3 + 1e-3 * math.abs(q)
    case _ => x == y
  }

  def hash(t: Table): Int = scala.util.hashing.MurmurHash3.seqHash(t)

  /** One JSON line: name, columns (name and Spark type, in sorted order)
    * and rows. NaN and infinities travel as strings. */
  def toJson(name: String, schema: StructType, t: Table): String = {
    val cols = schema.fields.sortBy(_.name)
      .map(f => Seq(f.name, f.dataType.simpleString))
    Json.obj("name" -> name, "columns" -> cols.toSeq, "rows" -> t).text
  }
}

/** Minimal JSON rendering for the harness's output. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
