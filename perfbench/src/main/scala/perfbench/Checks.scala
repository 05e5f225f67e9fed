package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. They run outside every timed interval. */
object Checks {

  private val mapper = new ObjectMapper()

  /** Order-insensitive digest of a result: each row becomes a canonical
    * string, the strings are sorted and hashed. Floating-point values keep
    * 9 significant digits, so a last-ulp difference from the order in which
    * partial aggregates merge does not change the digest. */
  def digest(df: DataFrame): String = digestRows(df.collect().toSeq)

  def digestRows(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canonical).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => canonical(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canonical(b.bigDecimal)
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(canonical).mkString("[", ",", "]")
    case x => x.toString
  }

  /** The `data` rows of an `ApiEnvelope.read` reply, or an error naming
    * what is wrong with the reply. */
  def envelopeRows(reply: String): Either[String, Seq[JsonNode]] =
    try {
      val root = mapper.readTree(reply)
      val status = root.path("status").asText("")
      if (status != "success") Left(s"status is '$status'")
      else if (!root.path("data").isArray) Left("data is not an array")
      else Right(root.path("data").elements().asScala.toSeq)
    } catch { case e: Exception => Left(s"reply does not parse: ${e.getMessage}") }

  /** The `popularBrands` reply must count every row written so far. */
  def brandTotal(reply: String, expected: Long): Either[String, Unit] =
    envelopeRows(reply).flatMap { rows =>
      val total = rows.map(_.path("n").asLong()).sum
      if (total == expected) Right(())
      else Left(s"popularBrands counts $total rows, $expected were written")
    }
}
