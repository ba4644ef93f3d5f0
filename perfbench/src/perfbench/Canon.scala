package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result, computed identically by
  * `perfbench/oracle.py` over the DuckDB oracle's rows: columns sorted by
  * name, each value rendered canonically, rendered rows sorted by their
  * UTF-8 bytes, SHA-256 over the joined lines. Floating values are rounded
  * to 6 significant digits from their exact binary value, the same
  * tolerance the repo's oracle checker uses. */
object Canon {
  final case class Digest(cols: Seq[String], rows: Long, hash: String) {
    def line(name: String): String = s"$name\t${cols.mkString(",")}\t$rows\t$hash"
  }

  private val Six = new MathContext(6, RoundingMode.HALF_EVEN)

  def num(d: JBigDecimal): String = {
    if (d.signum == 0) "0"
    else d.round(Six).stripTrailingZeros.toString
  }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Float => floating(x.toDouble)
    case x: Double => floating(x)
    case x: JBigDecimal => num(x)
    case x: scala.math.BigDecimal => num(x.bigDecimal)
    case x: String => x
    case x: java.time.LocalDate => x.toString
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case x: java.sql.Timestamp =>
      (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
    case x: java.time.Instant => (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + ":" + value(w) }.sorted.mkString("{", ",", "}")
    case x: Iterable[_] => x.map(value).mkString("[", ",", "]")
    case x: Row => x.toSeq.map(value).mkString("(", ",", ")")
    case x => x.toString
  }

  private def floating(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else num(new JBigDecimal(d))

  def digest(cols: Seq[String], rows: Iterator[Row]): Digest = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
      .map(_.getBytes(UTF_8)).toArray
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l); md.update('\n'.toByte) }
    Digest(cols.sorted, lines.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Expected digests: one `name \t cols \t rows \t sha256` line each. */
  def load(path: java.nio.file.Path): Map[String, Digest] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else java.nio.file.Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", -1)).map { f =>
        f(0) -> Digest(if (f(1).isEmpty) Nil else f(1).split(",").toSeq, f(2).toLong, f(3))
      }.toMap
}
