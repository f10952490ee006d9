package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a set-up that can be repeated into fresh
  * tables, a closed loop of timed operations, and a correctness check. */
trait Workload {
  /** The operation kinds whose latency is the headline metric. */
  def headline: Set[String]
  /** Build the seeded inputs (outside every timed region). */
  def prepare(): Unit
  /** Set up round `i` into fresh tables; the last round is the one run. */
  def setup(i: Int): Unit
  /** Checks run before the loop, outside its clock. */
  def precheck(rec: Recorder): Unit
  /** Issue operations through `rec` until `deadlineNs`. */
  def run(deadlineNs: Long, rec: Recorder): Unit
  /** Final correctness checks, counted through `rec.check`. */
  def finish(rec: Recorder): Unit
  /** What `units_per_s` counts: "rows" or "docs". */
  def unitsName: String

  /** Rounds every run makes however soon the deadline passes. */
  def minRounds: Int

  /** Run whole rounds: at least [[minRounds]], then more while the
    * deadline has not passed. Every run thus covers the same whole rounds
    * of the mix unless the program gets fast enough to fit more. */
  protected def rounds(deadlineNs: Long)(round: => Unit): Unit = {
    var n = 0
    while (n < minRounds || System.nanoTime() < deadlineNs) { round; n += 1 }
  }
}

/** Times operations call → return and counts attempts and failures. In
  * a traced run every operation is traced as well. */
final class Recorder(tracer: Option[Tracer]) {
  val latency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val subLatency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  var units = 0.0
  var busyNs = 0L
  val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private var tracing = false
  var lastTrace: Option[OpTrace] = None

  def traced: Boolean = tracer.isDefined

  /** Run one operation of `kind` (and sub-kind `sub`, if given); `units`
    * is the work it completes. A thrown exception counts as a failure. */
  def op[T](kind: String, units: Double = 0, sub: String = "")(body: => T): Option[T] = {
    attempted += 1
    lastTrace = None
    tracing = traced
    if (tracing) tracer.get.begin(kind)
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] $kind $sub failed: $e")
        None
    }
    val dt = System.nanoTime() - t0
    if (tracing) lastTrace = Some(tracer.get.end())
    tracing = false
    if (out.isDefined) {
      latency.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt / 1e6
      if (sub.nonEmpty) subLatency.getOrElseUpdate(s"$kind.$sub", mutable.ArrayBuffer.empty) += dt / 1e6
      busyNs += dt
      this.units += units
    }
    out
  }

  /** A client call into a layer inside the running operation. */
  def span[T](name: String)(body: => T): T =
    if (tracing) tracer.get.span(name)(body) else body

  /** Count a correctness check that ran outside any timed operation. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[graftbench] check failed: $what") }
  }

  /** A check of an operation's output: the operation was already
    * counted, so a mismatch turns it into a failure. */
  def verify(what: String, ok: Boolean): Unit =
    if (!ok) { failed += 1; System.err.println(s"[graftbench] wrong result: $what") }

  def note(name: String, value: Double, unit: String, n: Int = 1): Unit =
    named(name) = (value, unit, n)

}

object Stats {
  /** Linear-interpolated quantile of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Entry point:
  * `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  * prints a detail line (`{"detail": …}`, every metric by name with its
  * unit and sample count) and, last, the result line.
  * `--probe <dir>` prints the contention probes; `--record-expect <file>`
  * rewrites the curation workload's fixed-corpus expectation. */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.local(cpus, cpus)
    try {
      if (opts.contains("record-expect")) {
        val lines = new CurationRun(spark, 0L, None).fixedDigests().map { case (k, v) => s"$k\t$v" }
        java.nio.file.Files.write(java.nio.file.Paths.get(opts("record-expect")),
          ("# operator\tdigest/rows of the fixed curation corpus\n" + lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
      } else if (opts.contains("probe")) {
        println(s"""{"probe":{"cpu_ms":${num(Probes.cpuMs())},"cmt8_ms":${num(Probes.commitMs(spark, opts("probe")))}}}""")
      } else run(spark, opts)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    val traceOut = opts.get("trace-out").map(java.nio.file.Paths.get(_).toAbsolutePath)
    val root = work.resolve("store").toString
    val w: Workload = workload match {
      case "keyed_store" => new KeyedStore(spark, root, seed, work)
      case "curation" => new CurationRun(spark, seed, opts.get("expect").map(java.nio.file.Paths.get(_)))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)

    val phase = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); try body finally phase(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("start") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cpuBefore = Probes.cpuMs()
    timed("prepare")(w.prepare())
    val setupS = (0 until SetupRounds).map { i =>
      val t0 = System.nanoTime(); w.setup(i); (System.nanoTime() - t0) / 1e9
    }
    timed("precheck")(w.precheck(rec))
    timed("loop")(w.run(System.nanoTime() + (seconds * 1e9).toLong, rec))
    timed("finish")(w.finish(rec))
    val cpuAfter = Probes.cpuMs()

    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val head = rec.latency.collect { case (k, xs) if w.headline(k) => xs.toSeq }.flatten.toSeq
    val opP50 = Stats.median(head)
    val opsDone = rec.latency.values.map(_.size).sum
    val opsPerS = opsDone / (rec.busyNs / 1e9)
    val unitsPerS = rec.units / (rec.busyNs / 1e9)
    rec.note("setup_s", Stats.median(setupS), "s", setupS.size)
    rec.note("op_p50_ms", opP50, "ms", head.size)
    rec.latency.foreach { case (kind, xs) =>
      rec.note(s"${kind}_p50_ms", Stats.median(xs.toSeq), "ms", xs.size)
      rec.note(s"${kind}_p90_ms", Stats.quantile(xs.toSeq, 0.9), "ms", xs.size)
    }
    rec.subLatency.foreach { case (kind, xs) => rec.note(s"${kind}_p50_ms", Stats.median(xs.toSeq), "ms", xs.size) }
    rec.note("ops_per_s", opsPerS, "1/s", opsDone)
    rec.note(s"${w.unitsName}_per_s", unitsPerS, "1/s", opsDone)
    rec.note("heap_live_mb", heapMb, "MB")
    rec.note("failed_ops_frac", rec.failed.toDouble / math.max(1, rec.attempted), "frac", rec.attempted)
    phase.foreach { case (k, v) => rec.note(s"phase.${k}_s", v, "s") }
    rec.note("probe.cpu.before", cpuBefore, "ms")
    rec.note("probe.cpu.after", cpuAfter, "ms")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("op_p50_ms", opP50, "ms"),
        ("ops_per_s", opsPerS, "1/s"),
        ("units_per_s", unitsPerS, "1/s"))
      case Some(t) => Layers.report(t, rec, w.headline)
    }
    tracer.foreach(t => traceOut.foreach(t.write))

    val detail = rec.named.toSeq.map { case (k, (v, u, n)) =>
      s""""$k":{"value":${num(v)},"unit":"$u","n":$n}""" }
    println(s"""{"detail":{"workload":"$workload","seed":$seed,"metrics":{${detail.mkString(",")}}}}""")
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${rec.failed == 0},"attempted":${rec.attempted},"failed":${rec.failed},"metrics":{${ms.mkString(",")}}}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10)).toPlainString
}

/** Diagnostics for telling a contended machine apart: a fixed CPU loop
  * (taken before and after every run) and eight one-row commits (taken
  * by the steadiness report before and after each workload's runs). */
object Probes {
  def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { h = (h ^ i) * 0xff51afd7ed558ccdL; h ^= h >>> 29; i += 1 }
    // the result feeds the time so the loop cannot be optimized away
    (System.nanoTime() - t0) / 1e6 + (if (h == 42) 1 else 0)
  }

  def commitMs(spark: SparkSession, root: String): Double = {
    val g = graft.Graft(spark, root, audit = _ => ())
    g.create.table("probe", Seq("k" -> "bigint", "v" -> "bigint"), primaryKey = Seq("k"))
    import spark.implicits._
    val t0 = System.nanoTime()
    (1 to 8).foreach(k => g.write.insert("probe", Seq((k.toLong, k.toLong)).toDF("k", "v")))
    (System.nanoTime() - t0) / 1e6
  }
}
