package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Canonical answers and their digests. A response is reduced to its rows
  * (row order kept, since every grid entry orders its result; fields sorted
  * by name; floating values rounded to 9 significant digits, so a change in
  * summation order does not read as a wrong answer), and the digest is a
  * hash of that text. */
object Answers {
  private val mapper = new ObjectMapper()
  private val Sig = new MathContext(9)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0) "0"
    else new JBigDecimal(d).round(Sig).stripTrailingZeros.toPlainString

  private def value(v: JsonNode): String =
    if (v == null || v.isNull) "null"
    else if (v.isIntegralNumber) v.asText
    else if (v.isNumber) num(v.asDouble)
    else if (v.isTextual) v.asText
    else v.toString

  private def row(r: JsonNode): String =
    r.fields().asScala.toSeq.sortBy(_.getKey)
      .map(e => s"${e.getKey}=${value(e.getValue)}").mkString("|")

  /** Canonical rows of an HTTP answer body, by endpoint family. */
  def canonicalRows(kind: String, body: String): Seq[String] = {
    val root = mapper.readTree(body)
    kind match {
      case "query" | "search" => root.get("rows").elements().asScala
        .map(row).toSeq
      case "promql" =>
        require(root.path("status").asText == "success", "promql error")
        root.path("data").path("result").elements().asScala.map { s =>
          val labels = s.get("metric").fields().asScala.toSeq
            .sortBy(_.getKey).map(e => s"${e.getKey}=${e.getValue.asText}")
          val pts = s.get("values").elements().asScala.map(p =>
            s"${p.get(0).asLong}:${num(p.get(1).asText.toDouble)}")
          (labels ++ pts).mkString("|")
        }.toSeq.sorted
    }
  }

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The opaque next-page cursor of a /search answer. */
  def cursor(body: String): Option[String] =
    Option(mapper.readTree(body).get("next")).filterNot(_.isNull)
      .map(_.asText)

  /** Read `id<TAB>digest[,digest…]` lines. */
  def load(path: Path): Map[String, Seq[String]] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(id, ds) = l.split("\t", 2)
        id -> ds.split(",").toSeq
      }.toMap

  def save(path: Path, header: String, m: Seq[(String, Seq[String])])
      : Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, (s"# $header" +: m.map { case (id, ds) =>
      s"$id\t${ds.mkString(",")}" }).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
