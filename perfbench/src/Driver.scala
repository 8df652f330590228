package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** JVM side of the benchmark: one closed-loop client on the shipped
  * `GraftSession`, running a workload's queries one after another with no
  * think time. It records raw timestamps, counters and (with `--trace 1`)
  * spans and Spark scheduler events, and writes them as one JSON document;
  * `run.py` turns that into metrics. Options:
  *
  *   --setup-only           build the session, write its ready time, exit
  *   --sf DIR               fixture directory (one parquet per table)
  *   --queries a,b,c        the workload's queries
  *   --seed N               query order of every pass
  *   --seconds S            warm passes follow while they end within S
  *                          seconds of the cold pass's start
  *   --min-warm N           warm passes run even when S is exceeded
  *   --trace 0|1            record spans, jobs, tasks and planning phases
  *   --out FILE             where the JSON document goes
  */
object Driver {

  private def nowMs(anchorNs: Long, anchorMs: Long): Double =
    anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opts("out")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(
      appName = "perfbench", cores = cores, shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def write(doc: JObject): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(out), compact(render(doc)).getBytes("UTF-8"))
    val ready = ("ready_epoch_ms" -> readyMs) ~ ("jvm_start_epoch_ms" -> jvmStartMs)
    if (opts.get("setup-only").contains("1")) {
      // nothing ran on the session: skip its orderly stop, the caller
      // removes the local and temp directories
      write(ready)
      Runtime.getRuntime.halt(0)
    }
    try write(ready ~ run(spark, opts, cores))
    finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String], cores: Int): JObject = {
    val sf = opts("sf")
    val names = opts("queries").split(",").toSeq
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val minWarm = opts.getOrElse("min-warm", "2").toInt
    val trace = opts.get("trace").contains("1")
    val sc = spark.sparkContext
    val listener = if (trace) Some(new TraceListener) else None
    listener.foreach { l =>
      sc.addSparkListener(l)
      spark.listenerManager.register(l.planning)
    }

    val anchorNs = System.nanoTime()
    val anchorMs = System.currentTimeMillis()
    def now(): Double = nowMs(anchorNs, anchorMs)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val jit = ManagementFactory.getCompilationMXBean
    def jvmCounters(): (Long, Long, Long, Long) = (
      gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum,
      if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)

    def setGroup(g: String): Unit =
      if (trace) sc.setJobGroup(g, g, interruptOnCancel = false)

    def runQuery(pass: Int, name: String, cold: Boolean): JObject = {
      val (gc0, jit0, cg0, cgNs0) = jvmCounters()
      val t0 = now()
      var tBuild = t0
      var tExec = t0
      var result: JObject = JObject()
      var error: Option[(String, Throwable)] = None
      try {
        setGroup(s"$pass/$name/build")
        val df = graft.SparkEntry.queries(name)(spark, sf)
        tBuild = now()
        setGroup(s"$pass/$name/execute")
        try {
          if (cold) result = Checksum.writeObserved(df, s"cold_$name")
          else df.write.format("noop").mode("overwrite").save()
        } catch { case NonFatal(e) => error = Some("execute" -> e) }
        tExec = now()
      } catch {
        case NonFatal(e) =>
          error = Some("build" -> e)
          tBuild = now(); tExec = tBuild
      }
      setGroup(s"$pass/$name/drain")
      val pinned = graft.plans.ReleaseRegistry.pending
      graft.plans.ReleaseRegistry.drain()
      val tEnd = now()
      val persisted = sc.getPersistentRDDs.size
      if (trace) sc.clearJobGroup()
      val (gc1, jit1, cg1, cgNs1) = jvmCounters()
      val base = ("name" -> name) ~ ("start_ms" -> t0) ~ ("build_end_ms" -> tBuild) ~
        ("exec_end_ms" -> tExec) ~ ("end_ms" -> tEnd) ~
        ("pinned_at_drain" -> pinned) ~ ("persisted_rdds_after_drain" -> persisted) ~
        ("gc_ms" -> (gc1 - gc0)) ~ ("jit_ms" -> (jit1 - jit0)) ~
        ("codegen_compiles" -> (cg1 - cg0)) ~ ("codegen_ns" -> (cgNs1 - cgNs0))
      val err = error.map { case (phase, e) =>
        "error" -> (("phase" -> phase) ~ ("class" -> e.getClass.getName) ~
          ("message" -> String.valueOf(e.getMessage).take(2000)))
      }
      base ~ result ~ JObject(err.toList)
    }

    def runPass(pass: Int): JObject = {
      val order = new Random(seed * 1000003L + pass).shuffle(names)
      val steal0 = stealMs
      val t0 = now()
      val qs = order.map(n => runQuery(pass, n, cold = pass == 0))
      val t1 = now()
      ("pass" -> pass) ~ ("cold" -> (pass == 0)) ~ ("start_ms" -> t0) ~
        ("end_ms" -> t1) ~ ("steal_ms" -> (stealMs - steal0)) ~
        ("queries" -> JArray(qs.toList))
    }

    // the cold pass is always whole; warm passes follow while the next one,
    // at the median length of the last three warm passes (they shorten as
    // the JVM warms up), still ends within `seconds` of the cold pass's start
    val start = now()
    val passes = scala.collection.mutable.ArrayBuffer(runPass(0))
    val warmLengths = scala.collection.mutable.ArrayBuffer.empty[Double]
    def nextFits: Boolean = {
      val recent = warmLengths.takeRight(3).sorted
      val estimate = if (recent.isEmpty) now() - start else recent(recent.size / 2)
      now() - start + estimate <= seconds * 1000
    }
    while (warmLengths.size < minWarm || nextFits) {
      val t0 = now()
      passes += runPass(passes.size)
      warmLengths += now() - t0
    }

    val traced: JObject = listener.map { l =>
      org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
      l.toJson
    }.getOrElse(JObject())
    ("passes" -> JArray(passes.toList)) ~ ("env" -> env(spark, sf, cores)) ~
      ("vm_hwm_kb" -> vmHwmKb) ~ traced
  }

  /** Time the hypervisor ran something else while this machine's CPUs
    * had work, summed over CPUs (the `steal` column of /proc/stat, in
    * ticks of 10 ms); 0 where the kernel does not report it.
    */
  private def stealMs: Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong * 10).getOrElse(0L)
    finally src.close()
  }

  private def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  /** Settings that decide what a run measures; runs whose `nproc` differ
    * are never compared. Spark confs the JVM sets on its own (ids, hosts,
    * ports, start times) are left out.
    */
  private def env(spark: SparkSession, sf: String, cores: Int): JObject = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id",
      "spark.app.initial.jar.urls", "spark.driver.extraJavaOptions",
      "spark.executor.extraJavaOptions")
    val confs = spark.sparkContext.getConf.getAll.filterNot { case (k, _) => volatile(k) }
      .sortBy(_._1).map { case (k, v) => JField(k, JString(v)) }.toList
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val rows = tables.map(t => JField(t, JLong(spark.read.parquet(s"$sf/$t.parquet").count())))
    ("nproc" -> cores) ~ ("max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20)) ~
      ("spark_version" -> spark.version) ~
      ("java_version" -> System.getProperty("java.version")) ~
      ("session_confs" -> JObject(confs)) ~ ("fixture_rows" -> JObject(rows.toList))
  }
}

/** Row count and an order-insensitive checksum of a query's result,
  * observed on the same `noop` write that materializes it, so the plan
  * underneath is the one the warm passes run. Doubles are cast to float
  * first: a summation-order difference in the last bits of a double must
  * not flip the checksum.
  */
object Checksum {
  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case StructType(fields) =>
      struct(fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"), normalize(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def writeObserved(df: DataFrame, name: String): JObject = {
    val fields = df.schema.fields.toSeq
    val uniq = fields.map(_.name).distinct.size == fields.size
    val d = if (uniq) df else df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      normalize(d.col("`" + f.name.replace("`", "``") + "`"), f.dataType)
    }
    val hash =
      if (cols.isEmpty) lit(0L)
      else sum(xxhash64(cols: _*).bitwiseAND(0xFFFFFFFFL))
    val obs = Observation(name)
    d.observe(obs, count(lit(1)).as("n"), hash.as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val h = Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L)
    ("rows" -> m("n").asInstanceOf[Long]) ~ ("checksum" -> h.toString)
  }
}

/** Spark scheduler events of a traced run, grouped by job. Jobs carry the
  * job group the driver sets around each query phase; tasks are folded
  * into the job that first listed their stage.
  */
class TraceListener extends SparkListener {
  private final class Agg {
    var tasks, runMs, cpuNs, shufWrite, shufRead, spill, input = 0L
  }
  private final class Job(val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stagesDone = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val aggs = new ConcurrentHashMap[Int, Agg]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[JObject]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, new Job(g.getOrElse(""), e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
      stagesDone.merge(j, 1, (a, b) => Integer.valueOf(a + b)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val job = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
    val a = aggs.computeIfAbsent(job, _ => new Agg)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** Planning phases of every executed query, as epoch-ms intervals:
    * `run.py` assigns each to the query phase whose span contains it.
    */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      val fields = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(k => p.get(k).map(ph =>
          JField(k, JArray(List(JLong(ph.startTimeMs), JLong(ph.endTimeMs))))))
      executions.add(JObject(fields.toList))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def toJson: JObject = {
    val js = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      val a = Option(aggs.get(id)).getOrElse(new Agg)
      ("id" -> id) ~ ("group" -> j.group) ~ ("start_ms" -> j.startMs) ~
        ("end_ms" -> j.endMs) ~
        ("stages" -> Option(stagesDone.get(id)).map(_.intValue).getOrElse(0)) ~
        ("tasks" -> a.tasks) ~ ("task_run_ms" -> a.runMs) ~ ("cpu_ns" -> a.cpuNs) ~
        ("shuffle_write_b" -> a.shufWrite) ~ ("shuffle_read_b" -> a.shufRead) ~
        ("spill_disk_b" -> a.spill) ~ ("input_b" -> a.input)
    }
    ("jobs" -> JArray(js.toList)) ~ ("executions" -> JArray(executions.asScala.toList))
  }
}
