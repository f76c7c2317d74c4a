package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.core.Progress
import graft.core.export.MeasurementExport
import graft.core.splice.{Convert, SpliceOptions}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** JVM side of the perfbench benchmark: one fresh JVM per run.
  *
  * It starts a `local[cores]` session, runs a warm-up operation on
  * inputs generated from a different seed, then runs the timed
  * operations one after another (a closed loop with one client) through
  * the library's public entry points, and writes one result JSON.
  *
  * With `trace=1` it first runs the untraced timed phase on `timed`,
  * then installs a [[Recorder]] listener and runs the same calls on
  * `timed2` (other inputs, so no memo serves them) with spans. The
  * harness opens a span around each operation and each query call; the
  * program's own phase reports ([[graft.core.Progress]]) open the layer
  * spans inside the feldman entry points. Each span sets a local
  * property, so the listener can charge every job, stage and task to
  * the span that submitted it; spans stay in memory and are written
  * once at the end.
  *
  * Arguments are `key=value` pairs: workload, cores, trace, warm, timed,
  * timed2, out, result, localdir, and for corpus_queries the comma lists
  * queries and warmqueries.
  */
object Harness {

  val SpanProp = "perfbench.span"
  private val MB = 1024.0 * 1024.0
  private val Org = "IODP"

  // ---- spans ----------------------------------------------------------

  final class Span(val id: Int, val layer: String, val parent: Int, val op: Int,
      val t0: Long, val ms0: Long) {
    var t1 = 0L
    var ms1 = 0L
    def seconds: Double = (t1 - t0) / 1e9
  }

  /** Records nested spans when enabled; a no-op wrapper otherwise.
    *
    * It is also the program's progress listener: while an operation
    * runs, each [[graft.core.Progress]] report that the operation's
    * `phases` map names closes the open phase spans and opens the
    * listed layers, outermost first. Phase spans end with the span
    * that encloses them. */
  final class Tracer(sc: SparkContext) extends Progress.Listener {
    var enabled = false
    var op = -1
    var phases: Map[Double, Seq[String]] = Map.empty
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack: List[(Span, Boolean)] = Nil // (span, opened by a phase report)

    private def open(layer: String, phase: Boolean): Unit = {
      val s = new Span(spans.size, layer, stack.headOption.fold(-1)(_._1.id), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = (s, phase) :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
    }

    private def close(): Unit = {
      val s = stack.head._1
      s.t1 = System.nanoTime()
      s.ms1 = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_._1.id.toString).orNull)
    }

    def apply[A](layer: String)(body: => A): A =
      if (!enabled) body
      else {
        val depth = stack.size
        open(layer, phase = false)
        try body
        finally while (stack.size > depth) close()
      }

    override def setValueAndText(value: Double, text: String): Unit =
      if (enabled) phases.get(value).foreach { layers =>
        while (stack.headOption.exists(_._2)) close()
        layers.foreach(open(_, phase = true))
      }

    override def clear(): Unit = ()
  }

  // ---- listener -------------------------------------------------------

  final class StageAgg(val id: Int, val time: Long, val span: Option[Int]) {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    var outputRecords = 0L
  }

  final case class JobRec(id: Int, time: Long, span: Option[Int])

  /** Job, stage and task metrics, keyed by the submitting span. */
  final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs += JobRec(e.jobId, e.time, spanOf(e.properties))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      if (!stages.contains(id))
        stages(id) = new StageAgg(id,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
          spanOf(e.properties))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = stages.getOrElseUpdate(e.stageId,
        new StageAgg(e.stageId, e.taskInfo.launchTime, None))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  // ---- output -------------------------------------------------------

  private def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  // ---- workloads ------------------------------------------------------

  /** One timed operation; `phases` maps the Progress reports of the
    * entry point it calls to the layer spans they open. */
  final case class Op(name: String, run: () => Unit,
      phases: Map[Double, Seq[String]] = Map.empty)

  /** convertInMemory reports 0 when it starts converting (25 and 50 at
    * its later steps); convertSparseSplice reports 100 before its two
    * CSV sinks. */
  private val ConvertPhases = Map(0.0 -> Seq("splice.convert"), 100.0 -> Seq("format.save"))

  /** exportMeasurementData reports 0 before buildExport, 50 before the
    * side sink of unwritten rows (its emptiness probe included) and 100
    * before the main sink. */
  private val ExportPhases = Map(0.0 -> Seq("export.build"),
    50.0 -> Seq("export.write", "format.save"), 100.0 -> Seq("export.write", "format.save"))

  private def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      val t = b.getCollectionTime
      if (t > 0) ms += t
    }
    ms / 1e3
  }

  private def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).toSeq

  final class Workloads(spark: SparkSession, tr: Tracer, out: String) {

    private def sites(dir: String): Seq[File] =
      Option(new File(dir).listFiles).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.startsWith("site_")).sortBy(_.getName).toSeq

    /** Feldman entry point 1 on one site, as the CLI runs it. */
    private def convertOp(site: File, dest: String): Op = {
      val sec = new File(site, "secsumm.csv").getPath
      val sparse = new File(site, "sparse.csv").getPath
      val mc = Some(new File(site, "mancorr.csv")).filter(_.exists).map(_.getPath)
      Op(site.getName, () =>
        Convert.convertSparseSplice(spark, sec, sparse, s"$dest/${site.getName}/affine.csv",
          s"$dest/${site.getName}/sit.csv", SpliceOptions(), mc, Org),
        ConvertPhases)
    }

    /** Feldman entry point 2, as the CLI runs it. */
    private def exportOp(name: String, aff: String, sit: String, md: String, dest: String,
        depth: String, offSplice: Boolean, whole: Boolean): Op =
      Op(name, () =>
        MeasurementExport.exportMeasurementData(spark, aff, sit, md, dest, depth,
          offSplice, whole, sortForPresentation = true, Org),
        ExportPhases)

    /** Affine/SIT directory of the site the exports run against. */
    private var converted = ""

    /** Export inputs: `ops.tsv` lines of name, measurement file, depth
      * column, includeOffSplice, wholeSpliceSection, input rows, and a
      * `site_000` that is converted here. The warm-up inputs have no
      * site; they export against the last converted one. */
    private def exportOps(dir: String, tag: String): Seq[Op] = {
      sites(dir).foreach { s =>
        convertOp(s, s"$out/$tag-conv").run()
        converted = s"$out/$tag-conv/${s.getName}"
      }
      lines(s"$dir/ops.tsv").map(_.split("\t")).map { f =>
        exportOp(f(0), s"$converted/affine.csv", s"$converted/sit.csv", s"$dir/${f(1)}",
          s"$out/$tag/${f(0)}.csv", f(2), f(3).toBoolean, f(4).toBoolean)
      }
    }

    private def queryOps(dir: String, tag: String, queries: Seq[String]): Seq[Op] = {
      val all = SparkEntry.queries
      queries.map { q =>
        val fn = all(q)
        Op(q, () => {
          val df = tr("queries.build")(fn(spark, dir))
          tr("queries.execute")(df.write.mode("overwrite").parquet(s"$out/$tag/$q"))
        })
      }
    }

    /** The registered DuckDB oracle of each query, for the output check. */
    def writeOracles(queries: Seq[String]): Unit = {
      val oracles = SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        json(queries.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    }

    /** The operations of `workload` over the inputs in `dir`; set-up
      * work (the export workload's conversion) runs here, untimed. */
    def ops(workload: String, dir: String, tag: String, queries: Seq[String]): Seq[Op] =
      workload match {
      case "splice_convert" => sites(dir).map(convertOp(_, s"$out/$tag"))
      case "measurement_export" => exportOps(dir, tag)
      case "corpus_queries" => queryOps(dir, tag, queries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  }

  final case class OpResult(name: String, seconds: Double, ok: Boolean, error: String,
      span: Int)

  /** Runs ops in order, timing each; a throwing op is recorded, not fatal. */
  private def timed(ops: Seq[Op], tr: Tracer): (Double, Seq[OpResult]) = {
    val t0 = System.nanoTime()
    val res = ops.zipWithIndex.map { case (op, i) =>
      tr.op = i
      tr.phases = op.phases
      val spanId = tr.spans.size
      val s = System.nanoTime()
      val err = try { tr("op")(op.run()); null }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        e.toString
      }
      OpResult(op.name, (System.nanoTime() - s) / 1e9, err == null, err,
        if (tr.enabled) spanId else -1)
    }
    ((System.nanoTime() - t0) / 1e9, res)
  }

  private def opJson(r: OpResult): Map[String, Any] =
    Map("name" -> r.name, "seconds" -> r.seconds, "ok" -> r.ok, "error" -> r.error)

  private def storage(sc: SparkContext): (Int, Double) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(_.numCachedPartitions).sum, infos.map(i => i.memSize + i.diskSize).sum / MB)
  }

  /** Heap in use after full GCs; the pauses let Spark's ContextCleaner
    * release what the first GC found unreachable before the last one. */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  /** Per-layer totals of a traced phase, plus one detail row per op. */
  private def layerReport(workload: String, cores: Int, wall: Double, untracedWall: Double,
      tr: Tracer, rec: Recorder, results: Seq[OpResult], gc: Double,
      blocks: Int, storageMb: Double): Map[String, Any] = {
    val spans = tr.spans
    def covering(ms: Long): Option[Int] =
      spans.filter(s => s.ms0 <= ms && ms <= s.ms1).sortBy(-_.t0).headOption.map(_.id)
    def attribute(prop: Option[Int], ms: Long): Option[Int] = prop match {
      case Some(id) if id < spans.size && spans(id).ms0 - 1 <= ms && ms <= spans(id).ms1 + 1 =>
        Some(id)
      case _ => covering(ms)
    }
    val jobSpan = rec.jobs.flatMap(j => attribute(j.span, j.time).map(j -> _)).toSeq
    val stageSpan = rec.stages.values.filter(_.tasks > 0)
      .flatMap(s => attribute(s.span, s.time).map(s -> _)).toSeq
    def layerOf(id: Int) = spans(id).layer
    def opOf(id: Int) = spans(id).op

    val childTime = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.seconds)
    def layerSum(layer: String): Double = spans.filter(_.layer == layer).map(_.seconds).sum
    val selfByLayer = spans.groupBy(_.layer).view
      .mapValues(ss => ss.map(s => s.seconds - childTime(s.id)).sum).toMap
    def jobsIn(layer: String) = jobSpan.count(js => layerOf(js._2) == layer)
    val stagesAll = stageSpan.map(_._1)
    val runS = stagesAll.map(_.runMs).sum / 1e3
    val nOps = math.max(1, results.size)

    // the measurement scan: the widest input-reading stage of each export op
    val exporting = workload == "measurement_export"
    val scanTasks = stageSpan.filter { case (s, _) => exporting && s.input > 0 }
      .groupBy { case (_, id) => opOf(id) }.values.map(_.map(_._1.tasks).max)
    val exportRows = stageSpan.filter { case (_, id) => exporting && layerOf(id) == "format.save" }
      .map(_._1.outputRecords).sum

    val metrics = Map[String, Any](
      "spark.jobs" -> jobSpan.size,
      "spark.stages" -> stagesAll.size,
      "spark.tasks" -> stagesAll.map(_.tasks).sum,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> stagesAll.map(_.cpuNs).sum / 1e9,
      "spark.busy_share" -> runS / (wall * cores),
      "spark.idle_core_s" -> (wall * cores - runS),
      "spark.shuffle_write_mb" -> stagesAll.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> stagesAll.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> stagesAll.map(_.spill).sum / MB,
      "spark.input_mb" -> stagesAll.map(_.input).sum / MB,
      "spark.output_mb" -> stagesAll.map(_.output).sum / MB,
      "jvm.gc_s" -> gc,
      "storage.blocks" -> blocks,
      "storage.mb" -> storageMb,
      "splice.convert_s" -> layerSum("splice.convert"),
      "splice.jobs_per_op" -> jobsIn("splice.convert").toDouble / nOps,
      "format.save_s" -> layerSum("format.save"),
      "format.save_jobs" -> jobsIn("format.save"),
      "export.build_s" -> layerSum("export.build"),
      "export.write_s" -> layerSum("export.write"),
      "export.scan_tasks" -> (if (scanTasks.isEmpty) 0 else scanTasks.max),
      "export.rows_out" -> exportRows,
      "queries.build_s" -> layerSum("queries.build"),
      "queries.execute_s" -> layerSum("queries.execute"),
      "queries.jobs_per_op" -> (jobsIn("queries.build") + jobsIn("queries.execute")).toDouble / nOps,
      "trace.overhead_ratio" -> wall / untracedWall)

    val detail = results.map { r =>
      val mySpans = spans.filter(_.op == spans(r.span).op).map(_.id).toSet
      val st = stageSpan.filter(x => mySpans(x._2)).map(_._1)
      Map[String, Any](
        "workload" -> workload, "op" -> r.name, "cores" -> cores, "wall_s" -> r.seconds,
        "ok" -> r.ok,
        "jobs" -> jobSpan.count(x => mySpans(x._2)), "stages" -> st.size,
        "tasks" -> st.map(_.tasks).sum, "task_run_s" -> st.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / MB,
        "shuffle_read_mb" -> st.map(_.shuffleRead).sum / MB,
        "self_s" -> spans.filter(s => mySpans(s.id)).groupBy(_.layer).view
          .mapValues(ss => ss.map(s => s.seconds - childTime(s.id)).sum).toMap)
    }
    Map("metrics" -> metrics, "self_s" -> selfByLayer, "detail" -> detail,
      "unattributed_jobs" -> (rec.jobs.size - jobSpan.size))
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val out = a("out")
    def list(k: String) = a.get(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val queries = list("queries")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("localdir"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tr = new Tracer(sc)
    Progress.setProgressListener(tr)
    val w = new Workloads(spark, tr, out)

    // set-up (the export workload converts its site here), then the
    // warm-up: the same workload on inputs of another seed
    val ops = w.ops(workload, a("timed"), "timed", queries)
    timed(w.ops(workload, a("warm"), "warm", list("warmqueries")), tr)
    val setup = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val (wall, results) = timed(ops, tr)
    var report = Map[String, Any](
      "setup_s" -> setup, "wall_s" -> wall, "heap_retained_mb" -> retainedHeapMb(),
      "ops" -> results.map(opJson))

    if (trace) {
      val ops2 = w.ops(workload, a("timed2"), "timed2", queries)
      val rec = new Recorder
      sc.addSparkListener(rec)
      val (b0, mb0) = storage(sc)
      tr.enabled = true
      val g0 = gcSeconds()
      val (wall2, results2) = timed(ops2, tr)
      val gc2 = gcSeconds() - g0
      tr.enabled = false
      // blocks the traced phase added and still holds
      val (b2, mb2) = storage(sc)
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(rec)
      report ++= Map(
        "traced_ops" -> results2.map(opJson),
        "trace" -> layerReport(workload, cores, wall2, wall, tr, rec, results2, gc2,
          b2 - b0, mb2 - mb0))
    }
    if (workload == "corpus_queries") w.writeOracles(queries)
    Files.writeString(Paths.get(a("result")), json(report))
    // everything the session wrote is under the run directory, which the
    // caller removes, so skip the orderly shutdown
    Runtime.getRuntime.halt(0)
  }
}
