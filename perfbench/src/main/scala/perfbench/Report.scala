package perfbench

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite double with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

final case class Metric(name: String, value: Double, unit: String)

/** The benchmark's result: one JSON object on the last line of stdout. */
final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
                        problems: Seq[String]) {
  def correct: Boolean = failed == 0 && attempted > 0 && problems.isEmpty

  def line: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value),
        "unit" -> Json.str(m.unit)))
    })))
}

object Report {
  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}".r

  def validName(s: String): Boolean = NameRe.matches(s)
  def validUnit(s: String): Boolean = UnitRe.matches(s)

  /** Add, as 0, the declared shares (`%`) and counts a workload did not
    * report: the share or count of a module the workload does not use.
    * Times are never filled in; a missing time is still an error. */
  def unusedAsZero(declared: Seq[(String, String)], got: Seq[Metric]): Seq[Metric] = {
    val have = got.map(_.name).toSet
    got ++ declared.collect {
      case (n, u) if !have(n) && (u == "%" || u == "count") => Metric(n, 0.0, u)
    }
  }

  /** Metrics in the declared order; a missing, extra, misnamed or
    * non-finite metric is a bug in the benchmark, not a measurement. */
  def check(declared: Seq[(String, String)], got: Seq[Metric]): Seq[Metric] = {
    val byName = got.groupBy(_.name)
    require(byName.forall(_._2.size == 1), "duplicate metric names")
    require(got.map(_.name).toSet == declared.map(_._1).toSet,
      s"metrics ${got.map(_.name).sorted} differ from the declared " +
        s"${declared.map(_._1).sorted}")
    declared.map { case (name, unit) =>
      val m = byName(name).head
      require(validName(name), s"bad metric name $name")
      require(validUnit(unit) && m.unit == unit, s"bad unit for $name")
      require(!m.value.isNaN && !m.value.isInfinite, s"$name is ${m.value}")
      m
    }
  }
}
