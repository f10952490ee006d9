package graftbench

/** Folds the per-operation layer splits of a traced run into per-layer
  * metrics: means per operation, so an operation kind's layer times add
  * up to its mean wall time. Each operation kind gets its own (`.<kind>`
  * suffix, detail line); the headline kinds together get the plain names
  * the result line reports. */
object Layers {
  /** Per-layer metrics of the result line (name, key in a split, unit). */
  val resultNames: Seq[(String, String, String)] = Seq(
    ("spark.busy_ms", "spark.busy", "ms"),
    ("spark.plan_ms", "spark.plan", "ms"),
    ("client_ms", "client", "ms"),
    ("unattributed_ms", "unattributed", "ms"),
    ("spark.jobs", "jobs", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.cpu_ms", "cpu_ms", "ms"),
    ("spark.gc_ms", "gc_ms", "ms"),
    ("spark.shuffle_bytes", "shuffle_bytes", "bytes"),
    ("spark.scan_bytes", "scan_bytes", "bytes"),
    ("spark.peak_task_mem_mb", "peak_task_mem_mb", "MB"),
    ("spark.exchanges", "exchanges", "count"))

  private def mean(xs: Seq[Double]): Double = xs.sum / math.max(1, xs.size)

  private def values(t: OpTrace): Map[String, Double] = {
    val client = t.layers.collect {
      case (k, v) if !k.startsWith("spark.") && k != "unattributed" && !k.endsWith(".span") => v
    }.sum
    t.layers ++ t.counts + ("client" -> client) + ("wall" -> t.wallMs) +
      ("driver" -> (t.wallMs - t.layers("spark.busy")))
  }

  def report(tracer: Tracer, rec: Recorder, headline: Set[String]): Seq[(String, Double, String)] = {
    val byKind = tracer.traces.toSeq.groupBy(_.kind)
    def avg(kind: String, f: Map[String, Double] => Double): Double =
      mean(byKind.getOrElse(kind, Nil).map(t => f(values(t))))
    byKind.foreach { case (kind, ts) =>
      val vs = ts.map(values)
      resultNames.foreach { case (name, key, unit) =>
        rec.note(s"$name.$kind", mean(vs.map(_.getOrElse(key, 0.0))), unit, ts.size)
      }
      rec.note(s"wall_ms.$kind", mean(vs.map(_("wall"))), "ms", ts.size)
      rec.note(s"job_sum_ms.$kind", mean(vs.map(_("job_sum_ms"))), "ms", ts.size)
      // every client span by its own name: its raw duration, and the part
      // no Spark job or planning phase covers (its self time)
      vs.flatMap(_.keys).distinct.filter(_.endsWith(".span")).foreach { k =>
        val n = k.stripSuffix(".span")
        rec.note(s"${n}_ms.$kind", mean(vs.map(_.getOrElse(k, 0.0))), "ms", ts.size)
        rec.note(s"${n}_self_ms.$kind", mean(vs.map(_.getOrElse(n, 0.0))), "ms", ts.size)
      }
    }
    // the layer metrics under the names the benchmark's metric table uses
    def alias(name: String, kind: String, unit: String)(f: Map[String, Double] => Double): Unit =
      byKind.get(kind).foreach(ts => rec.note(name, avg(kind, f), unit, ts.size))
    alias("tablestore.commit_driver_ms", "write", "ms")(_("driver"))
    alias("mutations.exchanges_per_write", "write", "count")(_("exchanges"))
    alias("tablestore.read_build_ms", "read", "ms")(_.getOrElse("tablestore.read_build.span", 0.0))
    alias("tablestore.cold_open_ms", "cold_read", "ms")(_.getOrElse("tablestore.read_build.span", 0.0))
    alias("tablestore.metadata_ms", "meta", "ms")(_.getOrElse("tablestore.metadata.span", 0.0))
    alias("incrementalagg.fold_driver_ms", "fold", "ms")(_("driver"))

    val head = tracer.traces.toSeq.filter(t => headline(t.kind)).map(values)
    resultNames.map { case (name, key, unit) =>
      (name, mean(head.map(_.getOrElse(key, 0.0))), unit)
    } :+ ("trace.overhead_frac", tracer.selfMs / tracer.traces.map(_.wallMs).sum, "frac")
  }
}
