package graftbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}

/** Q1–Q5 result checks and the query layer's per-layer metrics. */
object Queries {
  final class Expected(z: Oracle.Zone) {
    val q2 = Oracle.q2(z)
    val q3 = Oracle.q3(z)
    val q4 = Oracle.q4(z)
    val q5 = Oracle.q5(z)
    private val rows: Set[Msg] = z.values.flatten.toSet
    private val dates: Map[Msg, LocalDate] =
      z.toSeq.flatMap { case (d, ms) => ms.map(_ -> d) }.toMap

    private def desc(ds: Seq[LocalDate]): Boolean =
      ds.zip(ds.drop(1)).forall { case (a, b) => !a.isBefore(b) }

    def check(k: Int, rs: Array[Row]): Seq[String] = k match {
      case 1 =>
        val ok = rs.length == 10 && rs.forall { r =>
          val m = Io.msgOf(r)
          rows(m) && dates(m) == r.getAs[java.sql.Date]("context_date").toLocalDate
        }
        if (ok) Nil else Seq(s"Q1 returned ${rs.length} rows, not 10 zone rows")
      case 2 =>
        val got = rs.map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toSeq
        if (got == q2.toSeq.sortBy(_._1).reverse) Nil else Seq(s"Q2 differs: $got")
      case 3 =>
        Oracle.diff("Q3", q3, rs.map(r =>
          (r.getLong(0), r.getString(1), r.getDate(2).toLocalDate) -> r.getLong(3)).toMap) ++
          (if (desc(rs.map(_.getDate(2).toLocalDate).toSeq)) Nil else Seq("Q3 order"))
      case 4 =>
        Oracle.diff("Q4", q4, rs.map(r =>
          (r.getLong(0), r.getString(1), r.getDate(2).toLocalDate) ->
            (if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap) ++
          (if (desc(rs.map(_.getDate(2).toLocalDate).toSeq)) Nil else Seq("Q4 order"))
      case 5 =>
        val keys = rs.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
        val sorted = keys.sortBy { case (h, d, w) => (w, d, h) }
        Oracle.diff("Q5", q5, rs.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap) ++
          (if (keys == sorted) Nil else Seq("Q5 order"))
    }
  }

  /** Per-layer query metrics from the run's `query.qN` spans and the
    * executed plans: latencies and Catalyst phases are per-query
    * medians, engine counts are totals.
    */
  def record(c: Ctx, ran: Seq[(Int, DataFrame, Double)]): Unit = {
    val t = c.tracer
    val w = new Work
    (1 to 5).foreach(k => w.add(t.work(s"query.q$k")))
    val phases = ran.map { case (_, df, _) => Plans.phases(df) }
    def phase(p: String): Double = Stats.median(phases.map(_.getOrElse(p, 0.0)))
    c.layer ++= (1 to 5).flatMap { k =>
      val ms = ran.filter(_._1 == k).map(_._3)
      if (ms.isEmpty) None else Some(s"query.q${k}_ms" -> Stats.median(ms))
    }
    c.layer ++= Seq(
      "query.analysis_ms" -> phase("analysis"),
      "query.optimization_ms" -> phase("optimization"),
      "query.planning_ms" -> phase("planning"),
      "query.jobs" -> w.jobs.toDouble, "query.tasks" -> w.tasks.toDouble,
      "query.bytes_read" -> w.bytesRead.toDouble,
      "query.files_read" -> ran.map { case (_, df, _) => Plans.filesRead(df) }.sum.toDouble,
      "query.shuffle_bytes" -> w.shuffleWrite.toDouble)
  }
}
