package graftbench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable.ArrayBuffer

/** One Telegram message as the enriched zone stores it (the Flatten
  * projection's columns, without `context_date`).
  */
final case class Msg(
    messageId: Long,
    userId: Long,
    isBot: Boolean,
    firstName: String,
    chatId: Long,
    chatType: String,
    date: Long,
    text: Option[String])

/** What a generated webhook body is, so the oracle knows its fate. */
sealed trait Kind
object Kind {
  /** A `message` update in the routed chat. */
  case object Normal extends Kind
  /** A byte-identical copy of an earlier Normal body (webhook retry). */
  case object Redelivery extends Kind
  /** A `message` update from a chat the pipeline does not route. */
  case object OtherChat extends Kind
  /** An `edited_message` update: no `message` envelope, so the ingest
    * routing filter drops it before ETL sees it. */
  case object Edited extends Kind
  /** A truncated body that does not parse: a corrupt record. */
  case object Malformed extends Kind
}

final case class Body(kind: Kind, msg: Msg, json: String) {
  /** Survives the ingest routing filter (`message.chat.id == chat`). */
  def routed: Boolean = kind == Kind.Normal || kind == Kind.Redelivery
}

/** Seeded generator of Telegram Update bodies with the benchmark's
  * traffic mix: ~2 % redeliveries, ~1 % other-chat messages, ~0.5 %
  * `edited_message` updates and ~0.5 % malformed bodies; the rest are
  * routed messages, 2 % of them without text (AVG must skip NULLs).
  * Users are Zipf-skewed; text is drawn from a fixed synthetic
  * vocabulary. Everything is a function of the seed.
  */
final class Gen(seed: Long) {
  import Gen._
  val rnd = new scala.util.Random(seed)
  private var nextUpdate = 100000L + (seed & 0xffff)
  private var nextMsgId = 1L
  private var nextOtherMsgId = 1L
  // Zipf(1.1) over user ranks; rank r maps to a scattered user id
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Users)(r => 1.0 / math.pow(r + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  def user(): Long = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    val r = if (i >= 0) i else math.min(-i - 1, Users - 1)
    1000003L * (r + 1) % 900000007L
  }

  def words(n: Int): String =
    Iterator.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  def text(): String = words(4 + rnd.nextInt(17))

  private def message(chatId: Long, date: Long, withText: Boolean): Msg = {
    val u = user()
    val id = if (chatId == ChatId) { nextMsgId += 1; nextMsgId - 1 }
             else { nextOtherMsgId += 1; nextOtherMsgId - 1 }
    Msg(id, u, u % 50 == 0, firstName(u), chatId,
      if (chatId == ChatId) "supergroup" else "group", date,
      if (withText) Some(text()) else None)
  }

  /** `n` bodies whose event dates fall in [from, from + span) seconds. */
  def bodies(n: Int, from: Long, span: Long): Vector[Body] = {
    val out = ArrayBuffer[Body]()
    val normals = ArrayBuffer[Body]()
    def date(): Long = from + (rnd.nextDouble() * span).toLong
    while (out.size < n) {
      val p = rnd.nextDouble()
      val b =
        if (p < 0.02 && normals.nonEmpty)
          normals(normals.size - 1 - rnd.nextInt(math.min(50, normals.size)))
            .copy(kind = Kind.Redelivery)
        else if (p < 0.03) {
          val m = message(OtherChatId - rnd.nextInt(3), date(), withText = true)
          Body(Kind.OtherChat, m, updateJson(nextUpdateId(), "message", m))
        } else if (p < 0.035 && normals.nonEmpty) {
          val m = normals(rnd.nextInt(normals.size)).msg.copy(text = Some(text()))
          Body(Kind.Edited, m, updateJson(nextUpdateId(), "edited_message", m))
        } else if (p < 0.04) {
          val m = message(ChatId, date(), withText = true)
          val full = updateJson(nextUpdateId(), "message", m)
          Body(Kind.Malformed, m, full.substring(0, full.length / 2))
        } else {
          val m = message(ChatId, date(), withText = rnd.nextDouble() >= 0.02)
          val b = Body(Kind.Normal, m, updateJson(nextUpdateId(), "message", m))
          normals += b
          b
        }
      out += b
    }
    out.toVector
  }

  private def nextUpdateId(): Long = { nextUpdate += 1; nextUpdate }
}

object Gen {
  /** The routed chat (the reference's TELEGRAM_CHAT_ID). */
  val ChatId: Long = -1001500000001L
  val OtherChatId: Long = -1009900000001L
  val Users = 2000

  private val Names = Vector("Ana", "Bruno", "Carla", "Davi", "Elisa",
    "Felipe", "Gabi", "Heitor", "Iris", "Joao", "Karen", "Lucas", "Marta",
    "Nuno", "Olga", "Pedro", "Quenia", "Rafa", "Sofia", "Tiago")

  def firstName(user: Long): String = Names((user % Names.size).toInt)

  /** 3,000 distinct lowercase pseudo-words: single-space tokens, so the
    * engine's `split(text, " ")` and `String.split(" ")` agree.
    */
  val Vocab: Vector[String] = {
    val syl = for (c <- "bcdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val r = new scala.util.Random(7)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 3000)
      seen += Iterator.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size))).mkString
    seen.toVector
  }

  private def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  def updateJson(updateId: Long, envelope: String, m: Msg): String = {
    val text = m.text.fold("")(t => s""","text":"${esc(t)}"""")
    val edit = if (envelope == "edited_message") s""","edit_date":${m.date + 60}""" else ""
    s"""{"update_id":$updateId,"$envelope":{"message_id":${m.messageId},""" +
      s""""from":{"id":${m.userId},"is_bot":${m.isBot},"first_name":"${esc(m.firstName)}"},""" +
      s""""chat":{"id":${m.chatId},"type":"${m.chatType}"},"date":${m.date}$edit$text}}"""
  }

  def utc(epochSec: Long): java.time.ZonedDateTime =
    Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC)
}
