package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Graft

/** Keyed store: a seeded 60k-row orders table, keyed on `o_orderkey` into
  * 8 buckets, with three maintained summaries of different kinds
  * (multi-measure sum, min/max, KMV distinct), all through the `Graft`
  * facade. A round is
  *  - six keyed writes: insert, update, upsert, delete, applyChanges and a
  *    full merge guarded by `deleteRequires` that replaces one region;
  *  - compaction;
  *  - a fold of every summary and a metadata read;
  *  - six aggregate queries, four servable from a summary and two not;
  *    each served answer is compared with the same query's answer once
  *    the summaries are detached;
  *  - a checked read of every shape;
  *  - vacuum, keeping the last two generations.
  * Every write is replayed on an in-memory model; reads and the final
  * table content are compared with it. The seed picks keys, values and
  * regions; the order of operation kinds is fixed, so every seed runs the
  * same mix in the same positions. */
final class KeyedStore(spark: SparkSession, root: String, seed: Long, work: Path) extends Workload {
  val headline = Set("write", "fold")
  val minRounds = 2
  val unitsName = "rows"
  val BaseRows = 60000
  val Buckets = 8
  val table = "orders"
  private val summaries = Seq("s_multi", "s_minmax", "s_kmv")
  // the writes of one round (kind, batch rows); merge replaces a region
  private val Writes = Vector(
    "insert" -> 50, "update" -> 2000, "upsert" -> 4000, "delete" -> 200, "apply" -> 1000, "merge" -> 0)
  private val ReadKinds = Vector("point", "range", "filter", "custkey", "projection", "topk", "agg",
    "cold_point", "cold_range")

  private val rng = new java.util.Random(seed)
  private var baseModel: OrdersModel = _
  private var g: Graft = _
  private var model: OrdersModel = _
  private var roundRoot: String = _

  def prepare(): Unit = {
    baseModel = new OrdersModel
    (0 until BaseRows).foreach(i => baseModel.put(Orders.at(seed, i)))
  }

  /** A fresh store root per round; the previous round's is deleted, so
    * the store root holds only the tables the loop runs on. */
  def setup(i: Int): Unit = {
    if (g != null) { g.summaries.detach(table); Fs.delete(Paths.get(roundRoot)) }
    roundRoot = s"$root/round$i"
    g = Graft(spark, roundRoot, audit = _ => ())
    g.create.table(table, Orders.columns, Seq("o_orderkey"), Buckets)
    // zone maps refreshed on every commit, so filtered reads can skip files
    g.maintenance.autoAnalyze(table, Seq("o_orderkey", "o_custkey", "o_totalcents"))
    g.write.insert(table, Orders.baseDf(spark, seed, 0, BaseRows))
    g.summaries.define("s_multi", table, Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalcents", "o_custkey"), kind = "multi")
    g.summaries.define("s_minmax", table, Seq("o_region"), Seq("o_totalcents"), kind = "minmax")
    g.summaries.define("s_kmv", table, Seq("o_orderpriority"), Seq("o_custkey"), kind = "distinct", k = 64)
    model = baseModel.copy()
  }

  def precheck(rec: Recorder): Unit = ()

  def run(deadlineNs: Long, rec: Recorder): Unit = rounds(deadlineNs) {
    val written = Writes.map { case (kind, size) => write(rec, kind, size) }.sum
    maintain(rec, "compact")(g.maintenance.compact(table))
    summaries.foreach(fold(rec, _, written))
    rec.op("meta")(rec.span("tablestore.metadata")(summaries.map(g.summaries.status) :+ g.read.snapshots(table).size))
    queries(rec)
    ReadKinds.foreach(checkedRead(rec, _))
    // after the folds: a fold reads the generation its summary last reflected
    maintain(rec, "vacuum")(g.maintenance.vacuum(table, keepLast = 2))
  }

  def finish(rec: Recorder): Unit = {
    rec.check(s"$table content digest",
      Orders.digest(g.read.table(table).collect().map(Orders.lineOf)) == model.digest)
    if (skipped.nonEmpty) rec.note("filestats.files_skipped_frac", skipped.sum / skipped.size, "frac", skipped.size)
    rec.latency.get("write").foreach(xs => rec.note("write_rows_per_s", rec.units / (xs.sum / 1e3), "1/s", xs.size))
    ledger.foreach { case (k, (xs, unit)) => rec.note(k, Stats.median(xs.toSeq), unit, xs.size) }
    rec.note("summaryrewrite.served_frac", served.count(identity).toDouble / math.max(1, served.size), "frac", served.size)
    // bytes under the store root ÷ bytes of the live rows written once
    val once = work.resolve("once")
    g.read.table(table).write.parquet(once.toString)
    rec.note("space_amp", Fs.bytes(Paths.get(roundRoot)).toDouble / Fs.bytes(once), "ratio")
    Fs.delete(once)
    rec.note("tablestore.live_files", g.read.table(table).inputFiles.length, "count")
    rec.note("tablestore.total_files", dataFiles().size, "count")
    rec.note("tablestore.generations", g.read.snapshots(table).size, "count")
  }

  // ── writes ──────────────────────────────────────────────────────────

  /** Per-layer samples the loop takes besides latencies: name → values, unit. */
  private val ledger = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]
  private def sample(name: String, unit: String, v: Double): Unit =
    ledger.getOrElseUpdate(name, (mutable.ArrayBuffer.empty[Double], unit))._1 += v

  private def dataFiles(): Map[String, Long] = Fs.files(Paths.get(roundRoot, table), ".parquet")

  private def existing(n: Int): Seq[Order] = {
    val ks = mutable.LinkedHashSet.empty[Long]
    while (ks.size < math.min(n, model.size)) ks += model.randomKey(rng)
    ks.toSeq.map(k => model.get(k).get)
  }
  private def fresh(n: Int): Seq[Order] = (0 until n).map(_ => Orders.gen(rng, model.newKey(rng)))
  private def withDeleteFlags(b: Seq[(Order, Boolean)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(b.map { case (o, d) => Row.fromSeq(o.row.toSeq :+ d) }: _*),
      Orders.schema.add("is_delete", "boolean"))

  /** One write of `kind`; its batch is built before the clock starts and
    * replayed on the model once the write has committed. Returns the rows
    * the batch carried. */
  private def write(rec: Recorder, kind: String, size: Int): Int = {
    val (rows, call, apply): (Seq[Order], () => Unit, () => Unit) = kind match {
      case "insert" =>
        val b = fresh(size); val df = Orders.df(spark, b)
        (b, () => g.write.insert(table, df), () => model.insert(b))
      case "update" =>
        val b = existing(size).map(Orders.mutate(rng, _)); val df = Orders.df(spark, b)
        (b, () => g.write.update(table, df), () => model.update(b))
      case "upsert" =>
        val b = existing(size * 4 / 5).map(Orders.mutate(rng, _)) ++ fresh(size - size * 4 / 5)
        val df = Orders.df(spark, b)
        (b, () => g.write.merge(table, df, upsert = true), () => model.upsert(b))
      case "delete" =>
        val b = existing(size); val df = spark.createDataFrame(b.map(o => Tuple1(o.key))).toDF("o_orderkey")
        (b, () => g.write.delete(table, df), () => model.delete(b.map(_.key)))
      case "apply" =>
        val b = existing(size * 4 / 5).map(o => (Orders.mutate(rng, o), rng.nextInt(4) == 0)) ++
          fresh(size - size * 4 / 5).map(_ -> false)
        val df = withDeleteFlags(b)
        (b.map(_._1), () => g.write.applyChanges(table, df, "is_delete"), () => model.applyChanges(b))
      case "merge" =>
        // most of the region's rows come back (a tenth changed), a
        // twentieth go, and a fiftieth as many are new
        val region = rng.nextInt(Orders.Regions)
        val cur = model.rows.values.filter(_.region == region).toSeq.sortBy(_.key)
        val b = cur.filter(_ => rng.nextInt(20) != 0)
          .map(o => if (rng.nextInt(10) == 0) Orders.mutate(rng, o) else o) ++
          fresh(cur.size / 50).map(_.copy(region = region))
        val df = Orders.df(spark, b)
        (b, () => g.write.merge(table, df, deleteRequires = Seq("o_region")), () => model.mergeFull(b))
    }
    val before = if (rec.traced) dataFiles() else Map.empty[String, Long]
    if (rec.op("write", rows.size, kind)(call()).isDefined) apply()
    if (rec.traced) {
      // what the write left on disk: files, bytes, rows and buckets
      val added = dataFiles() -- before.keySet
      sample("tablestore.files_added_per_write", "count", added.size)
      sample("tablestore.bytes_written_per_user_byte", "ratio",
        added.values.sum.toDouble / math.max(1L, rows.map(_.userBytes).sum))
      sample("mutations.rows_written_per_row_changed", "ratio",
        added.keys.map(Fs.parquetRows).sum.toDouble / math.max(1, rows.size))
      sample("mutations.buckets_touched_frac", "frac",
        added.keys.flatMap(p => "__bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1))).toSet.size.toDouble / Buckets)
    }
    rows.size
  }

  private def maintain(rec: Recorder, kind: String)(call: => Unit): Unit = {
    val before = if (rec.traced) dataFiles() else Map.empty[String, Long]
    rec.op(kind)(call)
    rec.lastTrace.foreach(t => sample(s"tablestore.${kind}_ms", "ms", t.wallMs))
    if (rec.traced) {
      val after = dataFiles()
      if (kind == "compact") sample("tablestore.compact_bytes_rewritten", "bytes", (after -- before.keySet).values.sum.toDouble)
      else sample("tablestore.vacuum_files_removed", "count", (before.keySet -- after.keySet).size.toDouble)
    }
  }

  // ── summaries ───────────────────────────────────────────────────────

  /** Fold `summary` over everything committed since its watermark: this
    * round's writes (`feedRows` rows in their batches) and compaction. */
  private def fold(rec: Recorder, summary: String, feedRows: Int): Unit = {
    val gens = if (rec.traced) g.read.snapshots(summary).size else 0
    rec.op("fold", 0, summary)(rec.span("incrementalagg.maintain")(g.summaries.maintain(summary)))
    rec.lastTrace.foreach { t =>
      sample("incrementalagg.feed_rows", "rows", feedRows)
      sample("incrementalagg.shuffle_bytes_per_feed_row", "bytes", t.counts("shuffle_bytes") / math.max(1, feedRows))
      sample("incrementalagg.commits_per_fold", "count", g.read.snapshots(summary).size - gens)
    }
  }

  private val dec = DecimalType(18, 2)
  private val served = mutable.ArrayBuffer.empty[Boolean]

  private def query(base: DataFrame, i: Int): DataFrame = i match {
    case 0 => base.groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_totalcents").cast(dec)).as("s"))
    case 1 => base.groupBy("o_region").agg(min(col("o_totalcents").cast(dec)).as("lo"), max(col("o_totalcents").cast(dec)).as("hi"))
    case 2 => base.groupBy("o_orderpriority").agg(graft.plans.GraftFunctions.kmvDistinct(col("o_custkey"), 64).as("d"))
    case 3 => base.filter(col("o_orderpriority") === "1-URGENT").groupBy("o_orderpriority", "o_orderstatus")
      .agg(avg(col("o_totalcents").cast(dec)).as("a"))
    // not servable: an aggregate no summary keeps, and a filter on a measure
    case 4 => base.groupBy("o_orderstatus").agg(stddev_pop(col("o_totalcents")).as("sd"))
    case 5 => base.filter(col("o_totalcents") > 25000000L).groupBy("o_region").agg(count(lit(1)).as("n"))
  }
  private val Servable = Set(0, 1, 2, 3)

  /** Whether the optimized plan reads only summary tables. */
  private def servedFromSummary(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths.map(_.toString)
    }.flatten.forall(p => summaries.exists(s => p.contains(s"/$s/")))

  private def lines(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toSeq.mkString("|")).sorted

  private def queries(rec: Recorder): Unit = {
    val answers = (0 until 6).flatMap { i =>
      var isServed = false
      rec.op("query", 0, s"q$i") {
        val q = query(rec.span("tablestore.read_build")(g.read.table(table)), i)
        val rows = q.collect()
        isServed = servedFromSummary(q)
        rows
      }.map { rows =>
        served += isServed
        rec.verify(s"query $i served=$isServed, expected ${Servable(i)}", isServed == Servable(i))
        rec.lastTrace.foreach { t =>
          sample(s"summaryrewrite.plan_ms.${if (isServed) "served" else "fallback"}", "ms", t.layers("spark.plan"))
          sample(s"summaryrewrite.query_ms.${if (isServed) "served" else "fallback"}", "ms", t.wallMs)
        }
        i -> lines(rows)
      }
    }
    // the served queries must agree with themselves, summaries detached
    g.summaries.detach(table)
    try answers.filter { case (i, _) => Servable(i) }.foreach { case (i, got) =>
      rec.verify(s"query $i equals its unserved answer", lines(query(g.read.table(table), i).collect()) == got)
    } finally summaries.foreach(g.summaries.attach)
  }

  // ── reads ───────────────────────────────────────────────────────────

  private val skipped = mutable.ArrayBuffer.empty[Double]

  private def render(r: Row): String = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate.toString
    case v => String.valueOf(v)
  }.mkString("|")

  /** A keyed read of one shape, compared with the model: point, range and
    * filter reads, a projection, orderBy + limit, a group-by aggregate,
    * and point or range reads through a fresh `Graft` handle (cold schema
    * and footer caches). */
  private def checkedRead(rec: Recorder, kind: String): Unit = {
    val k = model.randomKey(rng)
    val cust = model.get(k).get.cust
    val region = rng.nextInt(Orders.Regions)
    val status = Orders.Statuses(rng.nextInt(3))
    val lo = 100000 + rng.nextInt(50000000)
    val all = model.rows.valuesIterator
    // (columns, where, orderBy + limit, aggregate, expected lines)
    val (cols, where, topk, agg, want) = kind match {
      case "point" | "cold_point" =>
        (Nil, s"o_orderkey = $k", false, false, all.filter(_.key == k).map(_.line).toSeq)
      case "range" | "cold_range" =>
        (Nil, s"o_orderkey >= $k and o_orderkey <= ${k + 2000}", false, false,
          all.filter(o => o.key >= k && o.key <= k + 2000).map(_.line).toSeq)
      case "filter" =>
        (Nil, s"o_orderstatus = '$status' and o_totalcents >= $lo and o_totalcents <= ${lo + 100000}", false, false,
          all.filter(o => o.status == status && o.cents >= lo && o.cents <= lo + 100000).map(_.line).toSeq)
      case "custkey" =>
        (Nil, s"o_custkey = $cust", false, false, all.filter(_.cust == cust).map(_.line).toSeq)
      case "projection" =>
        (Seq("o_custkey", "o_totalcents"), s"o_custkey = $cust", false, false,
          all.filter(_.cust == cust).map(o => s"${o.key}|${o.cust}|${o.cents}").toSeq)
      case "topk" =>
        (Nil, s"o_region = $region", true, false,
          all.filter(_.region == region).toSeq.sortBy(o => (-o.cents, -o.key)).take(10).map(_.line))
      case "agg" =>
        (Nil, s"o_region = $region", false, true,
          all.filter(_.region == region).toSeq.groupBy(_.prio).toSeq.map { case (p, os) =>
            s"$p|${os.size}|${os.map(_.cents).sum}" })
    }
    val cold = kind.startsWith("cold_")
    val h = if (cold) Graft(spark, roundRoot, audit = _ => ()) else g
    val out = rec.op(if (cold) "cold_read" else "read", 0, kind) {
      val df = rec.span("tablestore.read_build") {
        if (topk) h.read.table(table, where = Some(where), orderBy = Seq("o_totalcents", "o_orderkey"),
          orderDesc = true, limit = Some(10))
        else h.read.table(table, columns = cols, where = Some(where))
      }
      (if (agg) df.groupBy("o_orderpriority").agg(count(lit(1)), sum("o_totalcents")) else df).collect()
    }
    out.foreach { rows =>
      val got = rows.toSeq.map(r => if (cols.isEmpty && !agg) Orders.lineOf(r) else render(r))
      rec.verify(s"$kind read where $where", if (topk) got == want else Orders.digest(got) == Orders.digest(want))
    }
    if (rec.traced) {
      val p = g.maintenance.explainPruning(table, where)
      skipped += 1.0 - p("after_stats_prune").toDouble / math.max(1L, p("total_files"))
    }
  }
}

object Fs {
  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else { val s = Files.walk(dir); try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close() }
  def files(dir: Path, suffix: String): Map[String, Long] =
    walk(dir).filter(_.toString.endsWith(suffix)).map(p => p.toString -> Files.size(p)).toMap
  def bytes(dir: Path): Long = walk(dir).map(Files.size).sum
  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  def parquetRows(path: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }
}
