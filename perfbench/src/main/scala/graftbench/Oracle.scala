package graftbench

import java.time.LocalDate
import java.time.temporal.IsoFields

/** The expected results, computed in plain Scala from the generator's
  * records — no Spark. Each workload compares the program's outputs
  * against these after its timed phase; any difference fails the run.
  */
object Oracle {

  type Zone = Map[LocalDate, Set[Msg]]

  def q2(z: Zone): Map[LocalDate, Long] = z.map { case (d, ms) => d -> ms.size.toLong }

  def q3(z: Zone): Map[(Long, String, LocalDate), Long] =
    (for ((d, ms) <- z.toSeq; m <- ms.toSeq) yield (m.userId, m.firstName, d))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  /** Presto CAST(AVG(length(text)) AS INT): round half away from zero,
    * NULL when every text in the group is NULL.
    */
  def q4(z: Zone): Map[(Long, String, LocalDate), Option[Int]] =
    (for ((d, ms) <- z.toSeq; m <- ms.toSeq) yield ((m.userId, m.firstName, d), m.text))
      .groupBy(_._1).map { case (k, v) =>
        val lens = v.flatMap(_._2).map(_.length)
        k -> (if (lens.isEmpty) None
              else Some(math.floor(lens.sum.toDouble / lens.size + 0.5).toInt))
      }

  /** (hour, ISO day of week, ISO week) of the event time in UTC. */
  def q5(z: Zone): Map[(Int, Int, Int), Long] =
    z.values.flatten.toSeq.map { m =>
      val t = Gen.utc(m.date)
      (t.getHour, t.getDayOfWeek.getValue, t.get(IsoFields.WEEK_OF_WEEK_BASED_YEAR))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  /** Days whose rows differ from the expected zone, duplicates included. */
  def zoneDiff(expected: Zone, actual: Map[LocalDate, Seq[Msg]]): Seq[String] =
    (expected.keySet ++ actual.keySet).toSeq.sorted.flatMap { d =>
      val e = expected.getOrElse(d, Set.empty)
      val a = actual.getOrElse(d, Nil)
      if (a.size == e.size && a.toSet == e) None
      else Some(s"enriched $d: expected ${e.size} rows, got ${a.size} " +
        s"(${(a.toSet -- e).size} unexpected, ${(e -- a.toSet).size} missing)")
    }

  /** Collect the first differences between two keyed results. */
  def diff[K, V](what: String, expected: Map[K, V], actual: Map[K, V]): Seq[String] = {
    val keys = (expected.keySet ++ actual.keySet).toSeq
    val bad = keys.filter(k => expected.get(k) != actual.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} of ${keys.size} keys differ, e.g. " +
      bad.take(3).map(k => s"$k expected ${expected.get(k)} got ${actual.get(k)}")
        .mkString("; "))
  }
}
