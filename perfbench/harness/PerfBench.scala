package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

import graft.{Engine, GraftSession, SparkEntry, Tables, Verify}
import graft.queries.RefCorpus

/** Client side of the layered benchmark. It drives the program only through
  * its public API (`SparkEntry.all(name).fn`, which reaches `Engine.sql` for
  * the Presto-dialect entries) and observes each layer from outside: wall
  * clocks around the calls into each layer, a SparkListener, the planning
  * tracker, the codegen counters and the SQL metrics of the executed plan.
  *
  * Modes:
  *   pools <out.json>
  *       every workload's pool with its DuckDB oracle SQL
  *   run <workload> <fixtureDir> <sequenceFile> <trace 0|1> <outDir> <cpus>
  *       set up, run the closed loop, and write <outDir>/run.json plus one
  *       result parquet per execution
  */
object PerfBench {
  /** Local property that tags every Spark job with the query that ran it. */
  val TagKey = "perfbench.tag"
  val MarkerTag = "marker"

  val tpchNames: Seq[String] = Seq("q01_tpch_q1", "q02_tpch_q6", "q22_tpch_q3") ++
    Seq("h02_min_cost_supplier", "h04_order_priority", "h05_local_supplier",
      "h07_volume_shipping", "h08_market_share", "h09_product_profit",
      "h10_returned_items", "h11_important_stock", "h12_shipmode",
      "h13_order_distribution", "h14_promo_effect", "h15_top_supplier",
      "h16_supplier_cnt", "h17_small_quantity", "h18_large_volume",
      "h19_discounted_revenue", "h20_excess_stock", "h21_waiting_supplier",
      "h22_global_sales")

  def pool(workload: String): Seq[String] = workload match {
    case "presto_corpus" =>
      RefCorpus.queries.keys.filter(_.startsWith("r")).toSeq.sorted
    case "tpc_sf1" =>
      tpchNames ++ SparkEntry.benchNames.filter(_.startsWith("ds"))
    case "llm_pipeline" =>
      Seq(graft.operators.Dedup.queries, graft.operators.TextAnalysis.queries,
        graft.operators.Bpe.queries, graft.operators.Similarity.queries,
        graft.operators.Retrieval.queries).flatMap(_.keys).sorted
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val workloads: Seq[String] = Seq("presto_corpus", "tpc_sf1", "llm_pipeline")

  def main(args: Array[String]): Unit = args.toList match {
    case "pools" :: out :: Nil =>
      val oracle = SparkEntry.oracleSql
      val js = Json.obj(workloads.map { w =>
        w -> Json.Raw(Json.obj(pool(w).map(n => n -> oracle.get(n).orNull): _*))
      }: _*)
      Files.write(Paths.get(out), js.getBytes(StandardCharsets.UTF_8))
    case "run" :: workload :: dir :: seqFile :: trace :: outDir :: cpus :: Nil =>
      new Run(workload, dir, seqFile, trace == "1", outDir, cpus.toInt).apply()
    case _ =>
      System.err.println("usage: PerfBench pools <out.json> | run <workload> <fixtureDir> " +
        "<sequenceFile> <trace 0|1> <outDir> <cpus>")
      sys.exit(2)
  }
}

/** Listener-side record of what Spark scheduled; read only after the marker
  * job's end event shows that every earlier event has been delivered. */
final class Recorder(markerTag: String) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  val stages = new ConcurrentHashMap[(Int, Int), mutable.Map[String, Any]]()
  val aqeUpdates = new ConcurrentHashMap[Long, java.lang.Long]()
  val markerSeen = new CountDownLatch(1)
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(PerfBench.TagKey)).orNull
    if (tag == markerTag) markerJobs.add(e.jobId)
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs.put(e.jobId, mutable.Map("job" -> e.jobId, "tag" -> tag, "start_ms" -> e.time,
      "stages" -> e.stageIds.toSeq, "exec" -> execId.getOrElse(-1L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.put("end_ms", e.time))
    if (markerJobs.contains(e.jobId)) markerSeen.countDown()
  }

  private def stage(id: Int, attempt: Int) = stages.computeIfAbsent((id, attempt),
    _ => mutable.Map[String, Any]("stage" -> id, "attempt" -> attempt, "tasks" -> 0L,
      "duration_ms" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
      "deser_ms" -> 0L, "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L,
      "spill_bytes" -> 0L))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    i.submissionTime.foreach(t => s.put("start_ms", t))
    i.completionTime.foreach(t => s.put("end_ms", t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    def add(k: String, v: Long): Unit = s.put(k, s(k).asInstanceOf[Long] + v)
    add("tasks", 1L)
    add("duration_ms", e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("deser_ms", m.executorDeserializeTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      aqeUpdates.merge(u.executionId, 1L, (a, b) => a + b)
    case _ =>
  }
}

final class Run(workload: String, dir: String, seqFile: String, trace: Boolean,
    outDir: String, cpus: Int) {

  private val nano0 = System.nanoTime()
  private val epoch0Ms = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
  private def epochMs(nano: Long): Double = epoch0Ms + (nano - nano0) / 1e6

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs: Long = cpuBean.getProcessCpuTime
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long = CodeGenerator.compileTime

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def apply(): Unit = {
    // Set-up: session, Engine, catalog. The corpus entries run on their own
    // Presto-named Engine catalogs, which are part of that workload's set-up.
    val (spark, sparkS) = timed(GraftSession.local(cpus))
    val (engine, engineS) = timed(Engine(spark))
    val (_, catalogS) = timed {
      engine.loadCatalog(dir)
      Tables.registerAll(spark, dir)
      if (workload == "presto_corpus") {
        RefCorpus.engine(spark, dir)
        RefCorpus.rawEngine(spark, dir)
      }
    }
    val readyMs = epochMs(System.nanoTime())
    val setup = Json.obj("ready_epoch_ms" -> readyMs, "spark_s" -> sparkS,
      "engine_s" -> engineS, "catalog_s" -> catalogS,
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    Files.createDirectories(Paths.get(outDir))

    // sequence file: "warmup-dir <fixture>", "warmup <names>" and "run <names>"
    val lines = Files.readAllLines(Paths.get(seqFile)).asScala.map(_.trim.split("\\s+").toSeq)
    def field(key: String) = lines.filter(_.head == key).flatMap(_.tail).toSeq
    val warmupDir = field("warmup-dir").headOption.getOrElse(dir)
    val sc = spark.sparkContext
    val recorder = if (trace) Some(new Recorder(PerfBench.MarkerTag)) else None
    recorder.foreach(sc.addSparkListener)

    val (_, warmupS) = timed(field("warmup").zipWithIndex.foreach { case (n, i) =>
      sc.setLocalProperty(PerfBench.TagKey, s"w$i")
      System.err.println(s"[perfbench] warm-up $n ${runOne(spark, warmupDir, n).latencyS} s")
    })

    val results = new Results
    val recs = mutable.ArrayBuffer.empty[String]
    val cpu0 = processCpuNs
    val loopT0 = System.nanoTime()
    field("run").zipWithIndex.foreach { case (n, qid) =>
      sc.setLocalProperty(PerfBench.TagKey, s"q$qid")
      val rec = runOne(spark, dir, n, Some((qid, results)))
      System.err.println(s"[perfbench] q$qid $n ${rec.latencyS} s")
      recs += rec.render(qid)
    }
    val loopT1 = System.nanoTime()
    val cpu1 = processCpuNs

    // everything below is outside the timed loop
    recorder.foreach { r =>
      sc.setLocalProperty(PerfBench.TagKey, PerfBench.MarkerTag)
      sc.parallelize(Seq(1), 1).count()
      if (!r.markerSeen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener events were not delivered")
      sc.removeSparkListener(r)
    }
    sc.setLocalProperty(PerfBench.TagKey, "dump")
    results.dump(outDir)
    results.clear()
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val out = Json.obj(
      "workload" -> workload, "fixture" -> dir, "cpus" -> cpus, "trace" -> trace,
      "setup" -> Json.Raw(setup),
      "warmup_s" -> warmupS,
      "loop" -> Json.Raw(Json.obj("start_epoch_ms" -> epochMs(loopT0), "wall_s" -> (loopT1 - loopT0) / 1e9,
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "queries" -> recs.size)),
      "retained_heap_mb" -> heapMb,
      "queries" -> Json.Raw(recs.mkString("[", ",\n", "]")),
      "jobs" -> Json.Raw(recorder.map(r =>
        r.jobs.values.asScala.filter(_.get("tag").exists(_ != null)).map(j =>
          Json.obj(j.toSeq.sortBy(_._1): _*)).mkString("[", ",\n", "]")).getOrElse("[]")),
      "stages" -> Json.Raw(recorder.map(r =>
        r.stages.values.asScala.map(s => Json.obj(s.toSeq.sortBy(_._1): _*))
          .mkString("[", ",\n", "]")).getOrElse("[]")),
      "aqe_updates" -> Json.Raw(recorder.map(r =>
        Json.obj(r.aqeUpdates.asScala.toSeq.map { case (k, v) => k.toString -> v.longValue }: _*))
        .getOrElse("{}")))
    write("run.json", out)
    spark.stop()
  }

  private def write(name: String, body: String): Unit =
    Files.write(Paths.get(outDir, name), body.getBytes(StandardCharsets.UTF_8))

  /** One call into the public API, timed to the last collected row. The
    * phase split forces the lazily built plans in the order the action
    * would build them, so it adds no work to the query. The rows of a timed
    * execution are kept under its id for the output check. */
  private def runOne(spark: SparkSession, fixture: String, name: String,
      keep: Option[(Int, Results)] = None): QueryRecord = {
    val r = new QueryRecord(name)
    val q = SparkEntry.all(name)
    val phases = Array.fill(5)(0L)
    val compileCounts = Array.fill(4)(0L)
    val compileNanos = Array.fill(4)(0L)
    var c = compiles
    var cn = compileNs
    def mark(i: Int): Unit = {
      phases(i + 1) = System.nanoTime()
      val (c2, cn2) = (compiles, compileNs)
      compileCounts(i) = c2 - c; compileNanos(i) = cn2 - cn
      c = c2; cn = cn2
    }
    var df: DataFrame = null
    r.cpu0 = processCpuNs
    phases(0) = System.nanoTime()
    try {
      df = q.fn(spark, fixture)
      mark(0)
      val qe = df.queryExecution
      qe.optimizedPlan
      mark(1)
      qe.executedPlan
      mark(2)
      val rows = df.collect()
      mark(3)
      r.rows = rows.length
      keep.foreach { case (qid, results) => results.add(qid, rows, df) }
    } catch {
      case NonFatal(e) =>
        val t = System.nanoTime()
        (1 to 4).foreach(i => if (phases(i) == 0L) phases(i) = t)
        r.error = e.getClass.getName
        var root: Throwable = e
        while (root.getCause != null && root.getCause != root) root = root.getCause
        r.rootError = root.getClass.getName
        r.message = String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(240)
    }
    r.cpu1 = processCpuNs
    r.phaseEpochMs = phases.map(epochMs)
    r.compileCounts = compileCounts
    r.compileNanos = compileNanos
    if (trace && df != null && r.error == null) r.planCounters(df)
    r
  }

  final class QueryRecord(val name: String) {
    var rows: Long = -1
    var error: String = null
    var rootError: String = null
    var message: String = null
    var cpu0, cpu1: Long = 0L
    var phaseEpochMs: Array[Double] = Array.empty
    var compileCounts: Array[Long] = Array.empty
    var compileNanos: Array[Long] = Array.empty
    val counters = mutable.LinkedHashMap.empty[String, Double]

    def planCounters(df: DataFrame): Unit = {
      val qe = df.queryExecution
      qe.tracker.phases.get(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)
        .foreach(p => counters("frontend.analysis_s") = p.durationMs / 1000.0)
      counters("optimizer.plan_nodes") = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
      PlanMetrics.collect(qe.executedPlan).foreach { case (k, v) => counters(k) = v }
    }

    def latencyS: Double = (phaseEpochMs(4) - phaseEpochMs(0)) / 1e3

    def render(qid: Int): String = Json.obj(
      "qid" -> qid, "name" -> name, "rows" -> rows,
      "error" -> error, "root_error" -> rootError, "message" -> message,
      "phase_epoch_ms" -> phaseEpochMs.toSeq, "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "compiles" -> compileCounts.toSeq, "compile_s" -> compileNanos.toSeq.map(_ / 1e9),
      "counters" -> Json.Raw(Json.obj(counters.toSeq: _*)))
  }
}

/** Operator-family totals from the SQL metrics of an executed plan, walked
  * through AQE (final stage plans) and subqueries; each node is counted once. */
object PlanMetrics {
  def collect(plan: SparkPlan): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      visit(p, acc)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }

  private def visit(p: SparkPlan, acc: mutable.Map[String, Double]): Unit = {
    def v(k: String): Double = p.metrics.get(k).map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => m.value.toDouble
      }
    }.getOrElse(0.0)
    def add(k: String, x: Double): Unit = acc(k) += x
    val cls = p.getClass.getSimpleName
    p match {
      case _: ShuffleExchangeExec =>
        add("exchange.write_bytes", v("shuffleBytesWritten"))
        add("exchange.write_s", v("shuffleWriteTime"))
        add("exchange.read_bytes", v("localBytesRead") + v("remoteBytesRead"))
        add("exchange.fetch_wait_s", v("fetchWaitTime"))
      case _: BroadcastExchangeExec =>
        add("join.build_s", v("buildTime"))
        add("join.broadcast_s", v("collectTime") + v("broadcastTime"))
      case _: ShuffledHashJoinExec =>
        add("join.build_s", v("buildTime"))
      case _ if cls.contains("Scan") && p.metrics.contains("numFiles") =>
        add("scan.files", v("numFiles"))
        add("scan.rows", v("numOutputRows"))
        add("scan.bytes", v("filesSize"))
        add("scan.time_s", v("scanTime"))
      case _ if cls.endsWith("AggregateExec") =>
        add("agg.time_s", v("aggTime"))
        add("agg.peak_mem_bytes", v("peakMemory"))
      case _ if cls == "SortExec" =>
        add("sort.time_s", v("sortTime"))
      case _ =>
    }
    add("spill.bytes", v("spillSize"))
  }
}

/** Collected rows of each timed execution, kept for the output check. */
final class Results {
  private case class Kept(rows: Array[Row], session: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
  private val kept = mutable.LinkedHashMap.empty[Int, Kept]

  def add(qid: Int, rows: Array[Row], df: DataFrame): Unit =
    kept(qid) = Kept(rows, df.sparkSession, df.schema)

  def clear(): Unit = kept.clear()

  /** Write each execution's rows to <outDir>/results/q<qid> as parquet, the
    * way graft.Verify writes its dumps. */
  def dump(outDir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      kept.toSeq.map { case (qid, k) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val local = k.session.createDataFrame(java.util.Arrays.asList(k.rows: _*), k.schema)
            Verify.normalize(local).coalesce(1).write.mode("overwrite")
              .parquet(Paths.get(outDir, "results", s"q$qid").toString)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
