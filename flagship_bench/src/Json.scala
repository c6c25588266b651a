package graftbench

/** Minimal JSON writer: ordered objects, arrays, strings, numbers. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def quote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** case classes render as objects of their fields */
  def render(v: Any): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => render(Obj(p.productElementNames.toSeq.zip(p.productIterator.toSeq)))
    case other => quote(other.toString)
  }

  /** the traced run's record: spans, and every listener's jobs, stages
    * and tasks, next to the run's report */
  def traceDump(tracer: Tracer, listeners: Listeners, report: Obj): Obj = obj(
    "run_id" -> tracer.runId,
    "spans" -> tracer.all,
    "contexts" -> listeners.all.map(l =>
      obj("jobs" -> l.allJobs, "stages" -> l.allStages, "tasks" -> l.allTasks)),
    "report" -> report)
}
