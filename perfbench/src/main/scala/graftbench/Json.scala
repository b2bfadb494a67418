package graftbench

import java.nio.file.{Files, Path}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A finite double with all its digits; NaN and infinities are not JSON. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

/** The traced run's spans and run facts, written once at exit. */
object TraceFile {
  def write(path: Path, rec: Recorder, facts: Map[String, Any]): Unit = {
    val spans = rec.spans.toSeq
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val children = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      // children of one span run one after another on the benchmark
      // thread, so their durations do not overlap
      val childS = children.getOrElse(s.id, Nil).map(_.seconds).sum
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "s" -> s.seconds, "self_s" -> (s.seconds - childS), "jobs" -> s.jobs,
        "task_s" -> s.taskMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
        "shuffle_mb" -> s.shuffleBytes / 1e6, "plan_ms" -> s.planMs)
    }
    Files.writeString(path, Json.render(facts + ("spans" -> rows)) + "\n")
  }
}
