package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed intervals in epoch milliseconds, and the little algebra the
  * layer split needs: a layer owns the part of an operation's wall time
  * that no higher-priority layer already covers. */
object Intervals {
  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): Vector[Iv] = {
    val out = mutable.ArrayBuffer.empty[Iv]
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toVector
  }

  def clip(ivs: Seq[Iv], s: Double, e: Double): Seq[Iv] =
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(iv => iv._2 > iv._1)

  def length(ivs: Seq[Iv]): Double = union(ivs).map(iv => iv._2 - iv._1).sum

  /** `a` minus `b`, both unions. */
  def minus(a: Vector[Iv], b: Vector[Iv]): Vector[Iv] =
    a.flatMap { case (s, e) =>
      val cuts = b.filter(iv => iv._2 > s && iv._1 < e)
      var cur = s
      val pieces = mutable.ArrayBuffer.empty[Iv]
      cuts.foreach { case (cs, ce) =>
        if (cs > cur) pieces += ((cur, cs))
        cur = math.max(cur, ce)
      }
      if (cur < e) pieces += ((cur, e))
      pieces
    }
}

/** One recorded span: a client-side call into a layer, or an operation
  * (parent 0). Times are epoch milliseconds so they line up with the
  * event times Spark's listener bus reports. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Double, end: Double)

/** The layer split of one traced operation. `layers` partitions the
  * operation's wall time (the unattributed remainder included); `counts`
  * holds the Spark work it launched. */
final case class OpTrace(op: Long, kind: String, wallMs: Double,
    layers: Map[String, Double], counts: Map[String, Double])

/** Traces operations from outside the engine. Spark job and task time
  * comes from a `SparkListener`, Catalyst planning time from the
  * `QueryPlanningTracker` phases a `QueryExecutionListener` sees, and
  * the client's own calls into a layer from [[span]]. Both listeners are
  * attached only while an operation runs; the bus is drained and the
  * layer split computed after the operation's clock has stopped. The
  * tracer's own callback and bookkeeping time is kept as [[selfMs]].
  * Everything is kept in memory and written out by [[write]]. */
final class Tracer(spark: SparkSession) {
  import Intervals._

  private val sc = spark.sparkContext
  private val OpKey = "graftbench.op"
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  // time spent in this tracer's own callbacks and bookkeeping
  private val selfNs = new java.util.concurrent.atomic.AtomicLong
  def selfMs: Double = selfNs.get / 1e6
  private def self[T](body: => T): T = {
    val t0 = System.nanoTime(); try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  private final class Job(val op: Long, val start: Double, val stages: Seq[Int]) {
    var end: Double = Double.NaN
  }
  private final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var scanBytes = 0L; var peakMem = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val planPhases = mutable.ArrayBuffer.empty[Iv]
  // (end of the query's last planning phase, exchanges in its final plan)
  private val exchanges = mutable.ArrayBuffer.empty[(Double, Int)]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = self {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
      Tracer.this.synchronized { jobs(e.jobId) = new Job(op, e.time.toDouble, e.stageIds) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = self {
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time.toDouble) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.scanBytes += m.inputMetrics.bytesRead
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val planListener = new QueryExecutionListener
      with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      val ivs = qe.tracker.phases.values.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      val n = collect(qe.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.size
      Tracer.this.synchronized {
        planPhases ++= ivs
        if (ivs.nonEmpty) exchanges += ((ivs.map(_._2).max, n))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = self(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = self(record(qe))
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  val traces = mutable.ArrayBuffer.empty[OpTrace]
  private var nextId = 1L
  private var open: Option[(Long, String, Double)] = None

  /** Open a traced operation of `kind` on the calling (client) thread. */
  def begin(kind: String): Unit = {
    require(open.isEmpty, "operations do not nest")
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val id = nextId; nextId += 1
    sc.setLocalProperty(OpKey, id.toString)
    open = Some((id, kind, now()))
  }

  /** Time one client call into a layer, as a child of the open operation. */
  def span[T](name: String)(body: => T): T = open match {
    case None => body
    case Some((op, _, _)) =>
      val s = now()
      try body finally self {
        val id = nextId; nextId += 1
        spans += Span(id, op, op, name, s, now())
      }
  }

  /** Close the open operation: drain the listener bus, detach the
    * listeners and split the operation's wall time into layers. */
  def end(): OpTrace = {
    val (op, kind, start) = open.get
    val stop = now()
    open = None
    sc.setLocalProperty(OpKey, null)
    org.apache.spark.sql.graftx.bridge.drainListenerBus(sc, 10000)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spans += Span(op, 0L, op, "op." + kind, start, stop)
    val t = synchronized {
      // a job launched by a pool thread may not carry the op property;
      // with one closed-loop client any job starting inside the window
      // belongs to this operation
      val mine = jobs.values.filter(j => j.op == op || (j.op == -1L && j.start >= start && j.start <= stop)).toSeq
      val jobIvs = mine.map(j => (j.start, if (j.end.isNaN) stop else j.end))
      val agg = mine.flatMap(_.stages).distinct.flatMap(stages.get)
      val children = spans.filter(s => s.op == op && s.parent == op)
      val layerIvs: Seq[(String, Seq[Iv])] =
        Seq("spark.busy" -> jobIvs, "spark.plan" -> planPhases.toSeq) ++
          children.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) => n -> ss.map(s => (s.start, s.end)).toSeq }
      var covered = Vector.empty[Iv]
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layerIvs.foreach { case (name, ivs) =>
        val own = minus(union(clip(ivs, start, stop)), covered)
        layers(name) = length(own)
        covered = union(covered ++ own)
      }
      val wall = stop - start
      layers("unattributed") = math.max(0.0, wall - length(covered))
      // raw (not priority-split) durations of the client spans
      children.groupBy(_.name).foreach { case (n, ss) => layers(n + ".span") = ss.map(s => s.end - s.start).sum }
      val counts = Map(
        "jobs" -> mine.size.toDouble,
        "tasks" -> agg.map(_.tasks).sum.toDouble,
        "cpu_ms" -> agg.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> agg.map(_.gcMs).sum.toDouble,
        "shuffle_bytes" -> agg.map(_.shuffleBytes).sum.toDouble,
        "scan_bytes" -> agg.map(_.scanBytes).sum.toDouble,
        "peak_task_mem_mb" -> (if (agg.isEmpty) 0.0 else agg.map(_.peakMem).max / 1048576.0),
        "job_sum_ms" -> jobIvs.map(iv => iv._2 - iv._1).sum,
        "exchanges" -> exchanges.filter(x => x._1 >= start && x._1 <= stop).map(_._2).sum.toDouble)
      // the events of a closed operation are never needed again
      jobs.clear(); stages.clear(); planPhases.clear(); exchanges.clear()
      OpTrace(op, kind, wall, layers.toMap, counts)
    }
    traces += t
    t
  }

  /** Write every span and per-operation split as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        w.write(f"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f}""")
        w.newLine()
      }
      traces.foreach { t =>
        val fields = (t.layers ++ t.counts).toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.3f""" }
        w.write(s"""{"op":${t.op},"kind":"${t.kind}","wall_ms":${t.wallMs},${fields.mkString(",")}}""")
        w.newLine()
      }
    } finally w.close()
  }
}
