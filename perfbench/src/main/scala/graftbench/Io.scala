package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** Filesystem and decoding helpers for checking outputs without going
  * through the program under test.
  */
object Io {
  private val mapper = new ObjectMapper()

  /** Data files under `dir`, recursively; hidden and `_` files skipped. */
  def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          !p.iterator.asScala.exists(_.toString.startsWith(".spark-staging"))
      }.toVector.sorted
      finally s.close()
    }
  }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum

  /** `context_date=` partitions directly under `dir`. */
  def partitions(dir: String): Seq[LocalDate] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator.asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("context_date=") =>
          LocalDate.parse(n.stripPrefix("context_date=")) }
        .toVector.sorted
      finally s.close()
    }
  }

  /** The Msg inside a parsed `message` update. */
  def msgOf(n: JsonNode): Msg = {
    val m = n.get("message")
    val from = m.get("from")
    Msg(m.get("message_id").asLong, from.get("id").asLong, from.get("is_bot").asBoolean,
      from.get("first_name").asText, m.get("chat").get("id").asLong,
      m.get("chat").get("type").asText, m.get("date").asLong,
      Option(m.get("text")).filterNot(_.isNull).map(_.asText))
  }

  /** Every JSON line of a raw-zone file, parsed. */
  def rawRows(p: Path): Seq[JsonNode] =
    Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map(l => mapper.readTree(l)).toSeq

  /** An enriched-zone row (the Flatten columns) as a Msg. */
  def msgOf(r: Row): Msg =
    Msg(r.getAs[Long]("message_id"), r.getAs[Long]("user_id"),
      r.getAs[Boolean]("user_is_bot"), r.getAs[String]("user_first_name"),
      r.getAs[Long]("chat_id"), r.getAs[String]("chat_type"), r.getAs[Long]("date"),
      Option(r.getAs[String]("text")))

  /** Every enriched-zone row per `context_date`, read back through Spark. */
  def readZone(spark: SparkSession, enriched: String): Map[LocalDate, Seq[Msg]] =
    spark.read.schema(graft.pipeline.TelegramSchema.enrichedSchema).parquet(enriched)
      .collect().toSeq
      .groupBy(r => r.getAs[java.sql.Date]("context_date").toLocalDate)
      .map { case (d, rs) => d -> rs.map(msgOf) }
}
