package bench

import java.nio.file.{Files, Path}

/** Plain JSON output: the per-workload summary line, the result line the
  * harness reads last, and the results file with the per-layer table and
  * the spans. */
object Report {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** `{"workload":…,"metrics":{"e2v_p50_ms":[1145.2,"ms",45000],…}}` */
  def namedLine(workload: String, seed: Long, traced: Boolean, o: Outcome): String =
    obj(Seq("workload" -> str(workload), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"),
      "metrics" -> obj(o.named.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> s"[${num(m.value)},${str(m.unit)},${m.n}]" })))

  def resultLine(correct: Boolean, o: Outcome, traced: Boolean): String = {
    val ms = if (traced) o.layers else o.contract
    obj(Seq("correct" -> correct.toString, "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit))) })))
  }

  private def metrics(ms: Map[String, Metric]): String =
    obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit), "n" -> m.n.toString)) })

  def write(file: Path, workload: String, ctx: Ctx, o: Outcome, correct: Boolean): Unit = {
    Option(file.getParent).foreach(Files.createDirectories(_))
    val spans = ctx.spans.all.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "attrs" -> obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) })))
    }
    val body = obj(Seq(
      "workload" -> str(workload), "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString, "trace" -> ctx.traced.toString,
      "correct" -> correct.toString, "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "errors" -> o.errors.map(str).mkString("[", ",", "]"),
      "end_to_end" -> metrics(o.contract), "named" -> metrics(o.named),
      "per_layer" -> metrics(o.layers),
      "spans" -> spans.mkString("[\n", ",\n", "]")))
    Files.writeString(file, body + "\n")
  }
}
