package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, SparkEntry}
import graft.operators.{AudienceMetrics, TaskDag}
import graft.sources.ViewingData

/** One operation of a workload. `frame` builds the DataFrame (eager
  * construction jobs run inside it); `dag` marks the daily task graph,
  * which is run through `TaskDag.run` instead of a sink. */
final case class Op(name: String, frame: (SparkSession, String) => DataFrame, dag: Boolean = false)

/** The benchmark process. It sets up a local Spark session, runs every
  * operation once with its output written as parquet for the correctness
  * check (this pass is also the first warm-up), then repeats full runs of
  * the workload for the requested seconds with the output sent to the
  * noop sink, and writes what it measured as JSON.
  *
  *   Harness <workload> <dataDir> <workDir> <seed> <seconds> <trace 0|1> <cpus> <warm-up runs>
  *
  * `workDir/workloads.tsv` lists `name<TAB>workload` for the two
  * registry workloads; every registry name must be listed exactly once.
  * `workDir/selected.txt`, when present, narrows a row workload to the
  * names it lists (one shard of the workload).
  */
object Harness {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val RowWorkloads = Seq("curation_rows", "olap_rows")
  val DagStages = Seq("panel_windows", "raw_events", "weighted_events", "viewing_sessions",
    "control_table")

  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  /** Epoch µs on the monotonic clock, comparable with listener event times. */
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def etlOps(work: String): Seq[Op] = Seq(
    Op("daily_dag", (_, _) => null, dag = true),
    Op("audience_metrics", (s, _) => AudienceMetrics.reachAndFrequency(
      s.read.parquet(s"$work/dag/viewing_sessions"), Seq("title", "content_id"))),
    Op("incremental_merge", Pipeline.incrementalMerge),
    Op("upsert_merge", Pipeline.upsertMerge),
    Op("affected_rebuild", Pipeline.affectedRebuild),
    Op("panel_windows_merge", Pipeline.panelWindowsMerge))

  /** Names per row workload from `workloads.tsv`, checked against the
    * registry: each failure names the rows it concerns. */
  def membership(listing: Seq[(String, String)]): Either[Seq[String], Map[String, Seq[String]]] = {
    val registry = SparkEntry.queries.keySet
    val listed = listing.groupBy(_._1).map { case (n, ws) => n -> ws.map(_._2) }
    val problems =
      listed.collect { case (n, ws) if ws.size > 1 => s"$n is listed in ${ws.mkString(" and ")}" } ++
      listed.keys.filterNot(registry).map(n => s"$n is listed but is not in SparkEntry.queries") ++
      (registry -- listed.keys).map(n => s"$n is in SparkEntry.queries but in no row workload") ++
      listing.collect { case (n, w) if !RowWorkloads.contains(w) => s"$n is listed under unknown workload $w" }
    if (problems.nonEmpty) Left(problems.toSeq.sorted)
    else Right(RowWorkloads.map(w => w -> listing.collect { case (n, `w`) => n }.sorted).toMap)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, work, seedArg, secondsArg, traceArg, cpus, warmArg) = args
    val seed = seedArg.toLong
    val budget = secondsArg.toDouble
    val traced = traceArg == "1"
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$work/registry.json"), Json(SparkEntry.queries.keys.toSeq.sorted))
    if (workload == "registry") return
    val listing = scala.io.Source.fromFile(s"$work/workloads.tsv").getLines()
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1)).toSeq
    val rows = membership(listing) match {
      case Left(problems) =>
        problems.foreach(p => System.err.println(s"[perfbench] membership: $p"))
        sys.exit(3)
      case Right(m) => m
    }
    if (workload == "membership") return
    val ops: Seq[Op] = workload match {
      case "etl_dag" => etlOps(work)
      case w if rows.contains(w) =>
        val sel = Paths.get(s"$work/selected.txt")
        val picked =
          if (!Files.exists(sel)) rows(w)
          else rows(w).filter(Files.readAllLines(sel).asScala.toSet)
        // java.util.Random's first draws barely differ for nearby seeds;
        // SplittableRandom mixes the seed first
        new Random(new SplittableRandom(seed).nextLong()).shuffle(picked)
          .map(n => Op(n, SparkEntry.queries(n)))
      case w => System.err.println(s"[perfbench] unknown workload $w"); sys.exit(2)
    }
    val inputs = if (workload == "etl_dag") Seq("events", "customer") else Tables

    // --- set-up: from JVM start to a session that has resolved every
    // input table and read one row --------------------------------------
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = System.nanoTime()
    inputs.foreach(t => ViewingData.table(spark, dataDir, t).schema)
    val resolveMs = (System.nanoTime() - tr) / 1e6
    ViewingData.table(spark, dataDir, "events").limit(1).collect()
    val setupS = (nowUs - jvmStartUs) / 1e6
    val sc = spark.sparkContext
    val tracer = if (traced) {
      val t = new Tracer(sc)
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    def freeBlocks(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    def dagTasks(wrap: (String, () => Unit) => Unit): Seq[TaskDag.Task] =
      Pipeline.dailyDag(dataDir, s"$work/dag").map { t =>
        if (t.name == "kickoff") t else t.copy(run = s => wrap(t.name, () => t.run(s)))
      }

    // --- correctness pass (and warm-up) ---------------------------------
    val failures = mutable.LinkedHashMap.empty[String, String]
    val checkStart = System.nanoTime()
    ops.foreach { op =>
      try {
        if (op.dag) {
          val bad = TaskDag.run(spark, dagTasks((_, f) => f())).filterNot(_.ok)
          if (bad.nonEmpty) failures(op.name) = bad.map(r => s"${r.name}: ${r.error.getOrElse("")}").mkString("; ")
        } else op.frame(spark, dataDir).write.mode("overwrite").parquet(s"$work/check/${op.name}")
      } catch {
        case e: Throwable => failures(op.name) = String.valueOf(e.getMessage).take(500)
      } finally freeBlocks()
    }
    val checkS = seconds(checkStart)

    // --- timed runs ---------------------------------------------------
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var nextId = 1
    def span(parent: Int, name: String, kind: String, s: Long, e: Long): Int = {
      val id = nextId; nextId += 1
      tracer.foreach(_.spans += Span(id, parent, name, kind, s, e))
      id
    }

    def oneRun(idx: Int, withTrace: Boolean): Map[String, Any] = {
      val tr = tracer.filter(_ => withTrace)
      val runStartUs = nowUs
      val runT0 = System.nanoTime()
      val runId = if (tr.isDefined) { val id = nextId; nextId += 1; id } else 0
      val opRecords = ops.map { op =>
        val g = s"r$idx:${op.name}"
        val opStartUs = nowUs
        val stages = mutable.LinkedHashMap.empty[String, Double]
        val stageSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
        var failed = false
        var buildS, execS = 0.0
        var buildEndUs = opStartUs
        try {
          tr.foreach(_.enter(s"$g:build"))
          val b0 = System.nanoTime()
          val df = if (op.dag) null else op.frame(spark, dataDir)
          buildS = seconds(b0)
          buildEndUs = nowUs
          tr.foreach(_.enter(s"$g:exec"))
          val e0 = System.nanoTime()
          if (op.dag) {
            val results = TaskDag.run(spark, dagTasks({ (name, f) =>
              tr.foreach(_.enter(s"$g:exec:$name"))
              val s0 = System.nanoTime()
              val startUs = nowUs
              f()
              stages(name) = seconds(s0)
              stageSpans += ((name, startUs, nowUs))
            }))
            failed = results.exists(!_.ok)
          } else df.write.format("noop").mode("overwrite").save()
          execS = seconds(e0)
          tr.foreach(_.leave())
        } catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[perfbench] ${op.name} failed: ${e.getMessage}")
            tr.foreach(_.leave())
        }
        val opEndUs = nowUs
        val materialized = if (tr.isDefined) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
        freeBlocks()
        val base = Map[String, Any]("name" -> op.name, "build_s" -> buildS, "exec_s" -> execS,
          "wall_s" -> (buildS + execS), "failed" -> failed,
          "stages" -> (if (op.dag) stages.toMap else Map(op.name -> (buildS + execS))))
        tr match {
          case None => base
          case Some(t) =>
            val opId = span(runId, op.name, "op", opStartUs, opEndUs)
            val buildId = span(opId, "build", "build", opStartUs, buildEndUs)
            val execId = span(opId, "exec", "exec", buildEndUs, opEndUs)
            t.jobsOf(s"$g:build").foreach { case (j, s, e) => span(buildId, s"job $j", "job", s, e) }
            t.jobsOf(s"$g:exec").foreach { case (j, s, e) => span(execId, s"job $j", "job", s, e) }
            stageSpans.foreach { case (name, s, e) =>
              val stageId = span(execId, name, "stage", s, e)
              t.jobsOf(s"$g:exec:$name").foreach { case (j, js, je) => span(stageId, s"job $j", "job", js, je) }
            }
            val build = t.counters(s"$g:build")
            val exec = new Counters
            exec += t.counters(s"$g:exec")
            DagStages.foreach(st => exec += t.counters(s"$g:exec:$st"))
            base ++ Map("build" -> build.toMap, "exec" -> exec.toMap,
              "materialized_bytes" -> materialized)
        }
      }
      val runS = seconds(runT0)
      if (tr.isDefined)
        tracer.get.spans += Span(runId, 0, s"run $idx", "run", runStartUs, nowUs)
      Map("idx" -> idx, "traced" -> withTrace, "run_s" -> runS, "ops" -> opRecords)
    }

    // Untraced: whole runs while the next one still fits in the budget.
    // Traced: at least two traced runs (for the repeat check) and one
    // untraced run (for the overhead), alternating. Untimed warm-up runs
    // come first: the JIT is still compiling the hot paths during the
    // first runs after the correctness pass.
    val warm = (1 to warmArg.toInt).map(i => oneRun(-i, withTrace = false))
    val t0 = System.nanoTime()
    val workloadStartUs = nowUs
    var idx = 0
    def more: Boolean = {
      val last = runs.lastOption.map(_("run_s").asInstanceOf[Double]).getOrElse(0.0)
      val nTraced = runs.count(_("traced") == true)
      val nPlain = runs.size - nTraced
      if (traced && (nTraced < 2 || nPlain < 1)) true
      else runs.isEmpty || seconds(t0) + last <= budget
    }
    while (more) {
      val withTrace = traced && idx % 2 == 0
      runs += oneRun(idx, withTrace)
      idx += 1
    }
    val measuredS = seconds(t0)

    val spansOut = tracer.map { t =>
      val all = t.spans.toSeq :+ Span(0, -1, workload, "workload", workloadStartUs, nowUs)
      val self = Trace.selfTimes(all)
      all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id)))
    }

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus.toInt,
      "ops" -> ops.map(_.name),
      "setup_s" -> setupS, "resolve_ms" -> resolveMs,
      "check_s" -> checkS, "check_failed" -> failures.toMap, "warm" -> warm,
      "measured_s" -> measuredS, "runs" -> runs.toSeq,
      "peak_rss_mb" -> hwmKb / 1024.0)
    Files.writeString(Paths.get(s"$work/harness.json"), Json(out))
    spansOut.foreach(s => Files.writeString(Paths.get(s"$work/spans.json"), Json(s)))
    spark.stop()
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
