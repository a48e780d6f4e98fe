package perfbench

/** The raw result file `run.py` reads: samples, checks, sizes, layer
  * values and the environment. */
object Json {
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

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(String.valueOf(other))
  }

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def result(workload: String, seed: Long, trace: Boolean,
      env: Seq[(String, String)], r: Main.Result): String = obj(Seq(
    "workload" -> str(workload),
    "seed" -> seed.toString,
    "trace" -> trace.toString,
    "env" -> obj(env.map { case (k, v) => k -> str(v) }),
    "session_s" -> num(r.sessionSecs),
    "warmup_s" -> num(r.warmupSecs),
    "fixture_s" -> r.fixtureSecs.map(num).mkString("[", ",", "]"),
    "first_op_at_s" -> num(r.firstOpAtSecs),
    "peak_rss_mb" -> num(r.peakRssMb),
    "sizes" -> obj(r.sizes.map { case (k, v) => k -> value(v) }),
    "ops" -> r.ops.map(o => obj(Seq("kind" -> str(o.kind), "s" -> num(o.secs),
      "cpu_s" -> num(o.cpuSecs),
      "ok" -> o.ok.toString, "note" -> str(o.note)))).mkString("[", ",", "]"),
    "checks" -> r.checks.map(c => obj(Seq("name" -> str(c.name),
      "ok" -> c.ok.toString, "detail" -> str(c.detail)))).mkString("[", ",", "]"),
    "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) })))
}
