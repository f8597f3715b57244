package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Minimal JSON writer and reader for the harness's own records (maps,
  * sequences, strings, numbers, booleans, null). */
object Json {
  def quote(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** Parse the harness's own flat JSON files: an object of objects whose
    * leaves are strings or numbers (the expected-output table). */
  def readExpected(text: String): Map[String, Map[String, String]] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\\{([^}]*)\\}".r
    val field = "\"([^\"]+)\"\\s*:\\s*(\"[^\"]*\"|[-0-9.eE]+)".r
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> field.findAllMatchIn(m.group(2))
        .map(f => f.group(1) -> f.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
    }.toMap
  }
}

/** Order-insensitive fingerprint of a result: columns sorted by name, every
  * value rendered canonically (floating point to 6 significant digits, map
  * entries sorted), each row hashed, the row hashes summed. Equal
  * fingerprints mean equal row multisets up to float rounding. */
object Fingerprint {
  final case class Result(rows: Long, fingerprint: String)

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else "%.6g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => render(b.doubleValue)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "→" + render(x) }.sorted.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => render(m.asScala)
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Canonical per-row strings, columns in name order. */
  def canonicalRows(df: DataFrame): Seq[String] = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val header = df.columns.sorted.mkString("|")
    df.collect().toSeq.map(r => header + "#" + order.map(i => render(r.get(i))).mkString("|"))
  }

  def of(df: DataFrame): Result = {
    val rows = canonicalRows(df)
    var sum = BigInt(0)
    rows.foreach { s =>
      val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      sum += BigInt(1, h.take(16))
    }
    Result(rows.size.toLong, (sum mod (BigInt(1) << 128)).toString(16))
  }
}
