package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import graft.{Caches, Main, SparkEntry}
import graft.sources.TickerStore

/** The benchmark's JVM side: sets up one workload, times its ops by
  * calling the program's public entry points, and writes one JSON record
  * per line to `out`. `run.py` turns the records into metrics.
  *
  * Arguments are `key=value` pairs:
  *  - workload  catalog_exec | catalog_build | daily_pipeline | record
  *  - ops       file with one op per line: `pass<TAB>query`, or a pipeline day
  *  - data      catalog table directory, or the pipeline's staged landing files
  *  - work      working directory of this run
  *  - out       result file
  *  - seconds   cap on the timed phase
  *  - history   pipeline days loaded by the set-up `--full-run`
  *  - trace     1 attaches the listeners and records spans
  */
object Harness {
  private var out: java.io.PrintWriter = _
  private def emit(fields: (String, Any)*): Unit = {
    out.println(Json.obj(fields: _*)); out.flush()
  }

  private def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    out = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(a("out"))))
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = a.get("trace").contains("1")
    val cpus = a("cpus")
    emit("kind" -> "catalog", "queries" -> SparkEntry.queries.keys.toSeq.sorted,
      "excluded" -> SparkEntry.benchExcluded.toSeq.sorted,
      "modules" -> modules.toSeq.sorted.map { case (q, m) => Seq(q, m) })
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.toSeq.filter(_.nonEmpty)
    val cap = a("seconds").toDouble
    try a("workload") match {
      case "daily_pipeline" =>
        pipeline(spark, tracer, work, Paths.get(a("data")), a("history").toInt, ops, cap,
          sessionS)
      case _ =>
        catalog(spark, tracer, a("data"), ops, cap, sessionS)
    } finally {
      tracer.foreach(_.finish())
      out.close()
      spark.stop()
    }
  }

  /** Spans and listener totals; absent in untraced runs. */
  final class Tracer(spark: SparkSession) {
    val listener = new Trace.Listener
    spark.sparkContext.addSparkListener(listener)
    private val spans = mutable.ArrayBuffer[Trace.Span]()

    def span[T](op: Int, name: String, parent: String)(body: => T): T = {
      val s = System.nanoTime()
      try body finally spans += Trace.Span(op, name, parent, s, System.nanoTime())
    }

    def finish(): Unit = {
      org.apache.spark.PerfBridge.drainListenerBus(spark.sparkContext)
      listener.synchronized {
        listener.accs.foreach { case ((op, layer), x) =>
          val skewW = x.stageSkew.map(_._1).sum
          val skew = if (skewW == 0) 0.0 else x.stageSkew.map { case (w, mx, md) =>
            w.toDouble * mx / math.max(md, 1L) }.sum / skewW
          emit("kind" -> "layer", "op" -> op, "layer" -> layer, "jobs" -> x.jobs,
            "stages" -> x.stages, "tasks" -> x.tasks, "task_ms" -> x.taskMs,
            "gc_ms" -> x.gcMs, "shuffle_write" -> x.shuffleWrite,
            "shuffle_read" -> x.shuffleRead, "input" -> x.input, "output" -> x.output,
            "skew" -> skew, "skew_weight_ms" -> skewW)
        }
      }
      spans.foreach { s =>
        emit("kind" -> "span", "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)
      }
    }
  }

  private def tagged[T](spark: SparkSession, op: Int, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, op.toString)
    sc.setLocalProperty(Trace.LayerKey, layer)
    try body finally sc.setLocalProperty(Trace.LayerKey, null)
  }

  private def timed[T](tracer: Option[Tracer], spark: SparkSession, op: Int,
                       layer: String, parent: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tagged(spark, op, layer) {
      tracer match {
        case Some(t) => t.span(op, layer, parent)(body)
        case None => body
      }
    }
    (r, secs(t0))
  }

  private def storageMb: Double =
    org.apache.spark.PerfBridge.storageMemoryUsed / (1024.0 * 1024.0)

  /** Drains the plan `qe` has already built into no sink, inside a SQL
    * execution as a Dataset action does. A noop-sink write would build a
    * second QueryExecution over the same logical plan and run the
    * optimizer and planner again, outside the plan layer's timing. */
  private def drain(qe: QueryExecution): Unit =
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.foreach(_ => ()))

  /** Module (source object) of each catalog query. */
  private def modules: Map[String, String] = {
    import graft._
    Seq(
      "Relational" -> operators.Relational.queries, "Snapshots" -> operators.Snapshots.queries,
      "TimeSeries" -> operators.TimeSeries.queries, "TextAnalysis" -> operators.TextAnalysis.queries,
      "TextRetrieval" -> operators.TextRetrieval.queries, "TextScoring" -> operators.TextScoring.queries,
      "CorpusHealth" -> operators.CorpusHealth.queries, "Dedup" -> dedup.Dedup.queries,
      "Similarity" -> similarity.Similarity.queries, "Multimodal" -> multimodal.Multimodal.queries,
      "Analytics" -> operators.Analytics.queries, "Scale" -> operators.Scale.queries,
      "Streaming" -> streaming.Streaming.queries,
      "Sketches" -> (operators.Sketches.queries ++ operators.Sketches.queries2),
      "Bpe" -> operators.Bpe.queries, "StatsStore" -> sources.StatsStore.queries,
      "Quality" -> operators.Quality.queries
    ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }

  /** Catalog workloads: each op builds one query, plans it, and drains
    * that same plan with its output observed. `ops` lines are
    * `pass<TAB>query`; pass 0 is the set-up pass, which first runs the
    * memoized store builds of the pass's store-serving queries and then
    * every query once, so the timed passes meet warm code and built
    * stores. The timed passes follow; `cap` seconds end them early. */
  private def catalog(spark: SparkSession, tracer: Option[Tracer], data: String,
                      ops: Seq[String], cap: Double, sessionS: Double): Unit = {
    val queries = SparkEntry.queries
    val moduleOf = modules
    val plan = ops.map { l => val Array(p, n) = l.split("\t"); (p.toInt, n) }
    var peakMb = 0.0
    def runOp(i: Int, pass: Int, name: String): Unit = {
      var c = 0.0; var p = 0.0; var x = 0.0
      var rows = -1L; var hash = ""; var error = ""
      var pinned = 0; var persistent = 0
      var shuffles = 0; var broadcasts = 0
      val opStart = System.nanoTime()
      try {
        val (df, tc) = timed(tracer, spark, i, "construct", name)(queries(name)(spark, data))
        c = tc
        peakMb = math.max(peakMb, storageMb)
        val (qe, tp) = timed(tracer, spark, i, "plan", name) {
          val qe = OutputHash.observe(df, s"op$i").queryExecution
          qe.executedPlan
          qe
        }
        p = tp
        x = timed(tracer, spark, i, "exec", name)(drain(qe))._2
        peakMb = math.max(peakMb, storageMb)
        val (n, h) = OutputHash.result(qe, s"op$i")
        rows = n; hash = h
        pinned = Caches.pinnedCount
        persistent = spark.sparkContext.getPersistentRDDs.size
        if (tracer.isDefined) {
          val e = Trace.exchanges(qe.executedPlan); shuffles = e._1; broadcasts = e._2
        }
      } catch {
        case t: Throwable => error = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
      } finally Caches.releaseAll()
      emit("kind" -> "op", "i" -> i, "pass" -> pass, "name" -> name,
        "module" -> moduleOf.getOrElse(name, "?"), "construct_s" -> c, "plan_s" -> p,
        "exec_s" -> x, "total_s" -> secs(opStart), "rows" -> rows, "hash" -> hash,
        "error" -> error, "pinned" -> pinned, "persistent_rdds" -> persistent,
        "exchanges" -> shuffles, "broadcasts" -> broadcasts)
    }
    val (warm, timedOps) = plan.zipWithIndex.partition(_._1._1 == 0)
    val builds = SparkEntry.benchBuilds.filter(n => warm.exists(_._1._2 == n))
    val tb = System.nanoTime()
    builds.foreach { n =>
      try { queries(n)(spark, data); () } finally Caches.releaseAll()
    }
    val buildS = secs(tb)
    val tw = System.nanoTime()
    warm.foreach { case ((pass, name), i) => runOp(i, pass, name) }
    emit("kind" -> "setup", "session_s" -> sessionS, "build_s" -> buildS, "builds" -> builds,
      "warmup_s" -> secs(tw))
    peakMb = 0.0
    val start = System.nanoTime()
    var done = 0
    timedOps.foreach { case ((pass, name), i) =>
      if (secs(start) < cap) {
        runOp(i, pass, name)
        done += 1
      }
    }
    emit("kind" -> "run", "wall_s" -> secs(start), "set_size" -> warm.size, "done" -> done,
      "storage_peak_mb" -> peakMb)
  }

  /** The daily market-close job through `Main.run` over `Main.defaultStages`.
    * Set-up loads the history with `--full-run`; each op lands one day
    * and runs `--daily-update`, every fifth day also the ticker sync and
    * info update. */
  private def pipeline(spark: SparkSession, tracer: Option[Tracer], work: Path,
                       staged: Path, history: Int, days: Seq[String],
                       cap: Double, sessionS: Double): Unit = {
    val files = Files.list(staged).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).sorted
    def land(root: Path, f: String): Unit = {
      val dst = root.resolve("landing").resolve(f)
      Files.createDirectories(dst.getParent)
      Files.move(staged.resolve(f), dst, StandardCopyOption.ATOMIC_MOVE)
      // the file source skips files older than its newest seen file
      // minus maxFileAge; stamp each file when it lands
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis()))
    }
    def date(day: Int): String =
      java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString.replace("-", "")
    val stageS = mutable.Map[String, Double]().withDefaultValue(0.0)
    var peak = 0.0
    def stages(root: Path, op: Int, syncDate: String): Main.Stages = {
      val s = Main.defaultStages(spark, root.toString, syncDate)
      def wrap(name: String, f: () => Boolean): () => Boolean = () => {
        val (ok, t) = timed(tracer, spark, op, name, "op")(f())
        stageS(name) += t
        peak = math.max(peak, storageMb)
        ok
      }
      Main.Stages(wrap("sync", s.sync), wrap("update_info", s.updateInfo),
        wrap("download_historical", s.downloadHistorical), wrap("daily_update", s.dailyUpdate))
    }
    val quiet: String => Unit = _ => ()
    val root = work.resolve("pipeline")
    files.take(history).foreach(land(root, _))
    val t = System.nanoTime()
    val rc = Main.run(Seq("--full-run"), stages(root, -1, date(history - 1)), quiet)
    emit("kind" -> "setup", "session_s" -> sessionS, "full_run_s" -> secs(t), "rc" -> rc,
      "download_historical_s" -> stageS("download_historical"))
    stageS.clear()
    peak = 0.0
    val start = System.nanoTime()
    var done = 0
    val todo = days.map(_.toInt)
    todo.zipWithIndex.foreach { case (day, i) =>
      if (secs(start) < cap) {
        done += 1
        land(root, files(day))
        val before = stageS.toMap
        val t0 = System.nanoTime()
        val args =
          if (i % 5 == 0) Seq("--sync-tickers", "--update-ticker-info", "--daily-update")
          else Seq("--daily-update")
        var error = ""
        val rc = try Main.run(args, stages(root, i, date(day)), quiet)
          catch { case t: Throwable => error = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300); -1 }
        val took = secs(t0)
        Caches.releaseAll()
        def delta(n: String) = stageS(n) - before.getOrElse(n, 0.0)
        emit("kind" -> "op", "i" -> i, "name" -> s"day_$day", "module" -> "pipeline",
          "total_s" -> took, "rc" -> rc, "error" -> error, "args" -> args,
          "daily_update_s" -> delta("daily_update"), "sync_s" -> delta("sync"),
          "update_info_s" -> delta("update_info"))
      }
    }
    emit("kind" -> "run", "wall_s" -> secs(start), "planned" -> todo.size, "done" -> done,
      "storage_peak_mb" -> peak)
    // untimed output checks
    val landing = root.resolve("landing").toString
    val landed = spark.read.parquet(landing)
    val landedIds = landed.filter(col("ts").isNotNull).select("event_id").distinct()
    val stored = spark.read.parquet(root.resolve("store").toString).select("event_id")
    def idHash(df: DataFrame) = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("event_id")).cast("decimal(20,0)")), lit(0)).cast("string"))
      .head()
    val l = idHash(landedIds); val s = idHash(stored)
    val storedDistinct = stored.distinct().count()
    val tickers = TickerStore.readLatestSnapshot(spark, root.resolve("tickers").toString)
      .select("symbol", "name", "sector", "url").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.head).toSeq
    def tree(p: Path): Seq[Path] =
      Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toSeq
    val storeFiles = tree(root.resolve("store"))
    emit("kind" -> "pipeline_check", "landed_rows" -> landed.count(),
      "landed_ids" -> l.getLong(0), "landed_hash" -> l.getString(1),
      "stored_rows" -> s.getLong(0), "stored_hash" -> s.getString(1),
      "stored_distinct" -> storedDistinct, "tickers" -> tickers,
      "store_files" -> storeFiles.size, "store_bytes" -> storeFiles.map(Files.size).sum,
      "landing_bytes" -> tree(root.resolve("landing")).map(Files.size).sum)
  }
}

/** Minimal JSON writer for the result records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}
