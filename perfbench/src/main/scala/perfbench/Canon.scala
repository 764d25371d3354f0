package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** A query result in a comparable form, following the repo's oracle check:
  * columns ordered by name, rows sorted by value, doubles equal within 1e-9,
  * every other value equal as text. Integral types are widened to Long so an
  * INT column compares equal to a BIGINT one, as the text compare does.
  * Rows sort on the non-double columns first, so a last-digit difference in
  * a double cannot reorder rows whose keys differ.
  */
final case class Canon(columns: Seq[String], isDouble: Seq[Boolean], rows: Array[Array[Any]]) {

  /** None when equal to `expected`, else the first difference found. */
  def diff(expected: Canon): Option[String] =
    if (columns != expected.columns)
      Some(s"columns ${columns.mkString(",")} vs ${expected.columns.mkString(",")}")
    else if (rows.length != expected.rows.length)
      Some(s"row count ${rows.length} vs ${expected.rows.length}")
    else {
      val kinds = isDouble.zip(expected.isDouble).indexWhere { case (a, b) => a != b }
      if (kinds >= 0) Some(s"column ${columns(kinds)}: double vs non-double")
      else {
        val bad = rows.indices.iterator.flatMap { i =>
          columns.indices.find(c => !Canon.same(rows(i)(c), expected.rows(i)(c), isDouble(c)))
            .map(c => s"column ${columns(c)} at sorted row $i: " +
              s"${rows(i)(c)} vs ${expected.rows(i)(c)}")
        }
        bad.nextOption()
      }
    }
}

/** Order-independent digest of a result: columns by name, row count, and
  * the sum and xor of per-row hashes, with doubles rounded to 8 decimals
  * (the fixtures round theirs to 4, so float noise cannot change a digest). */
final case class Fingerprint(columns: Seq[String], rows: Long, sum: Long, xor: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(columns, rows + o.rows, sum + o.sum, xor ^ o.xor)
}

object Canon {
  val Tolerance = 1e-9

  private def nameOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def fingerprint(schema: StructType, rows: Iterator[Row]): Fingerprint = {
    val order = nameOrder(schema)
    var n, sum, xor = 0L
    rows.foreach { r =>
      var h = 0x1b873593L
      order.foreach { i => h = (h ^ valueHash(norm(r.get(i)))) * 0x9E3779B97F4A7C15L }
      n += 1
      sum += h
      xor ^= h * 0xC2B2AE3D27D4EB4FL
    }
    Fingerprint(order.map(schema.fieldNames(_)).toSeq, n, sum, xor)
  }

  /** Digest of a DataFrame computed by its partitions, without collecting it. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val zero = fingerprint(schema, Iterator.empty)
    df.rdd.mapPartitions(it => Iterator(fingerprint(schema, it))).fold(zero)(_ + _)
  }

  private def valueHash(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case l: Long => l * 31 + 1
    case d: Double =>
      val r = d * 1e8
      (if (math.abs(r) < 9e15) math.round(r) else java.lang.Double.doubleToLongBits(d)) * 31 + 2
    case s => s.toString.hashCode.toLong * 31 + 3
  }

  def apply(schema: StructType, data: Array[Row]): Canon = {
    val order = nameOrder(schema)
    val names = order.map(schema.fieldNames(_)).toSeq
    val isDouble = order.map { i =>
      val t = schema(i).dataType.typeName
      t == "double" || t == "float"
    }.toSeq
    val rows = data.map(r => order.map(i => norm(r.get(i))).toArray[Any])
    val keyFirst = names.indices.sortBy(c => isDouble(c))
    java.util.Arrays.sort(rows, (a: Array[Any], b: Array[Any]) => {
      var k = 0
      var res = 0
      while (res == 0 && k < keyFirst.length) {
        res = compare(a(keyFirst(k)), b(keyFirst(k)))
        k += 1
      }
      res
    })
    Canon(names, isDouble, rows)
  }

  private def norm(v: Any): Any = v match {
    case null => null
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case d: java.math.BigDecimal if d.scale <= 0 => d.longValueExact
    case other => other.toString
  }

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  private def same(a: Any, b: Any, isDouble: Boolean): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) if isDouble => math.abs(x - y) <= Tolerance
    case (x, y) => x.toString == y.toString
  }
}
