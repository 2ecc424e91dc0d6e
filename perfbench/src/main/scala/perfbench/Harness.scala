package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop driver for one benchmark run: one client thread issues the
  * declared keys of `graft.SparkEntry.queries` against one long-lived
  * session and records what every layer did, using public hooks only.
  *
  *   run    <args.json>  set up, time the keys, write raw records as JSON
  *   oracle <out.json>   write `SparkEntry.oracleSql` as a JSON object
  *
  * `run` reads its arguments from a JSON file written by `run.py`:
  * `data` (input directory), `keys` (in issue order), `passes`,
  * `setups`, `staging` (which `warmStaging` calls the keys need),
  * `trace`, `outputs` (traced runs: a directory to write every key's full
  * output to, for the hash compare) and `out` (the result file).
  *
  * Untraced runs register a single listener that sums task counters per
  * stage. Traced runs add job events, Catalyst phase times, streaming
  * progress and a listing of the private tmpdir around every key.
  */
object Harness {

  private val mapper = new ObjectMapper()

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def list[A](xs: Iterable[A]): JList[A] = new JList[A](xs.asJavaCollection)

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: out :: Nil =>
      val m = new JMap[String, Any]()
      graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
      mapper.writeValue(new File(out), m)
    case "run" :: argFile :: Nil =>
      val a = mapper.readTree(new File(argFile))
      run(
        data = a.get("data").asText,
        keys = a.get("keys").elements.asScala.map(_.asText).toSeq,
        passes = a.get("passes").asInt,
        setups = a.get("setups").asInt,
        staging = a.get("staging").elements.asScala.map(_.asText).toSet,
        trace = a.get("trace").asBoolean,
        outputs = Option(a.get("outputs")).filterNot(_.isNull).map(_.asText),
        out = a.get("out").asText)
    case _ =>
      System.err.println("usage: Harness run <args.json> | oracle <out.json>")
      sys.exit(2)
  }

  /** Session start, the JVM/codegen warm-up `graft.Bench` does, and the
    * staging the workload's keys need, in a fresh tmpdir. */
  private def setUp(data: String, staging: Set[String]): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
    if (staging("analytics")) graft.operators.AnalyticsQueries.warmStaging(spark, data)
    if (staging("stream")) graft.streaming.StreamingDeclared.warmStaging(spark, data)
    spark.catalog.clearCache()
    spark
  }

  /** Stage-level task counters; the only listener an untraced run keeps. */
  private final class Counters extends SparkListener {
    private val acc = scala.collection.mutable.Map[Int, Array[Long]]()
    val stages = new JList[JMap[String, Any]]()
    @volatile var events = 0L
    // executorRunTime ms, executorCpuTime ns, deserializeCpu ns, gc ms,
    // input bytes, input rows, output bytes, shuffle read, shuffle write,
    // spill (memory + disk)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      val m = e.taskMetrics
      if (m != null) {
        val a = acc.getOrElseUpdate(e.stageId, new Array[Long](10))
        a(0) += m.executorRunTime; a(1) += m.executorCpuTime
        a(2) += m.executorDeserializeCpuTime; a(3) += m.jvmGCTime
        a(4) += m.inputMetrics.bytesRead; a(5) += m.inputMetrics.recordsRead
        a(6) += m.outputMetrics.bytesWritten
        a(7) += m.shuffleReadMetrics.totalBytesRead
        a(8) += m.shuffleWriteMetrics.bytesWritten
        a(9) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      val i = e.stageInfo
      val a = acc.remove(i.stageId).getOrElse(new Array[Long](10))
      stages.add(obj("stage" -> i.stageId, "tasks" -> i.numTasks,
        "end_ms" -> i.completionTime.getOrElse(System.currentTimeMillis),
        "run_ms" -> a(0), "cpu_ns" -> (a(1) + a(2)), "gc_ms" -> a(3),
        "input_bytes" -> a(4), "input_rows" -> a(5), "output_bytes" -> a(6),
        "shuffle_read_bytes" -> a(7), "shuffle_write_bytes" -> a(8),
        "spill_bytes" -> a(9)))
    }
  }

  /** Job, Catalyst-phase and streaming-progress records for traced runs. */
  private final class Tracer extends SparkListener with QueryExecutionListener {
    val jobs = new JList[JMap[String, Any]]()
    val actions = new JList[JMap[String, Any]]()
    val open = scala.collection.mutable.Map[Int, JMap[String, Any]]()
    @volatile var events = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val j = obj("job" -> e.jobId, "start_ms" -> e.time, "stages" -> list(e.stageIds))
      open(e.jobId) = j; jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      open.remove(e.jobId).foreach(_.put("end_ms", e.time))
    }
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
      events += 1
      val phases = new JMap[String, Any]()
      qe.tracker.phases.foreach { case (p, s) =>
        phases.put(p, list(Seq(s.startTimeMs, s.endTimeMs)))
      }
      actions.add(obj("func" -> func, "ok" -> ok, "phases" -> phases))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = record(func, qe, true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe, false)

    val triggers = new JList[JMap[String, Any]]()
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          events += 1
          val p = e.progress
          val d = new JMap[String, Any]()
          p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
          triggers.add(obj(
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "duration_ms" -> d,
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
        }
    }
  }

  /** Regular files under `root` with (size, mtime). */
  private def listing(root: Path): Map[String, (Long, Long)] = {
    if (!Files.exists(root)) return Map.empty
    val w = Files.walk(root)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
      scala.util.Try(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toOption
    }.toMap finally w.close()
  }

  /** Lake commits (`_graft_log/v*`) and lake data files written or
    * rewritten between two listings. */
  private def fileDelta(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): JMap[String, Any] = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    val commits = changed.filter { case (p, _) =>
      p.contains(s"${File.separator}_graft_log${File.separator}v") }
    val lakeDirs = after.keys.collect {
      case p if p.contains(s"${File.separator}_graft_log${File.separator}") =>
        p.substring(0, p.indexOf(s"${File.separator}_graft_log"))
    }.toSet
    val data = changed.keys.filter { p =>
      p.endsWith(".parquet") && lakeDirs.exists(d => p.startsWith(d + File.separator))
    }
    obj("lake_commits" -> commits.size, "lake_log_bytes" -> commits.values.map(_._1).sum,
      "lake_data_files" -> data.size)
  }

  private def run(data: String, keys: Seq[String], passes: Int, setups: Int,
      staging: Set[String], trace: Boolean, outputs: Option[String], out: String): Unit = {
    val runTmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val queries = graft.SparkEntry.queries
    val setupS = new JList[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val dir = runTmp.resolve(s"setup$i")
      Files.createDirectories(dir)
      System.setProperty("java.io.tmpdir", dir.toString)
      // the previous session's garbage is not this set-up's cost
      System.gc()
      val t0 = System.nanoTime()
      spark = setUp(data, staging)
      setupS.add((System.nanoTime() - t0) / 1e9)
    }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t); spark.listenerManager.register(t); spark.streams.addListener(t.streams)
    }
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val threads = ManagementFactory.getThreadMXBean
    val threadsBefore = threads.getThreadCount
    val filesBefore = listing(tmp)

    val records = new JList[JMap[String, Any]]()
    val passSpans = new JList[JList[Long]]()
    for (pass <- 0 until passes) {
      val p0 = System.currentTimeMillis
      for (key <- keys) {
        val before = if (trace) listing(tmp) else Map.empty[String, (Long, Long)]
        val w0 = System.currentTimeMillis; val n0 = System.nanoTime()
        var n1 = n0; var w1 = w0
        var rows = -1L; var error: String = null
        try {
          val df = queries(key)(spark, data)
          n1 = System.nanoTime(); w1 = System.currentTimeMillis
          rows = df.count()
        } catch { case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          if (n1 == n0) { n1 = System.nanoTime(); w1 = System.currentTimeMillis }
        }
        val n2 = System.nanoTime(); val w2 = System.currentTimeMillis
        // what the key left in the shared session, then the same cleanup
        // graft.Bench does between keys
        val rdds = sc.getPersistentRDDs.size
        val cached = if (cacheManager.isEmpty) 0 else 1
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val r = obj("key" -> key, "pass" -> pass, "start_ms" -> w0, "build_end_ms" -> w1,
          "end_ms" -> w2, "build_s" -> (n1 - n0) / 1e9, "action_s" -> (n2 - n1) / 1e9,
          "rows" -> rows, "error" -> error, "rdds_left" -> rdds, "cache_entries_left" -> cached)
        if (trace) r.put("files", fileDelta(before, listing(tmp)))
        records.add(r)
        System.err.println(f"[perfbench] pass $pass $key%-32s ${(n2 - n0) / 1e9}%8.3f s rows $rows" +
          Option(error).fold("")(e => s" ERROR $e"))
      }
      passSpans.add(list(Seq(p0, System.currentTimeMillis)))
    }

    // retained heap: what the long-lived session keeps after the cleanup
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val threadsDelta = threads.getThreadCount - threadsBefore
    val filesLeft = listing(tmp).keySet.diff(filesBefore.keySet).size

    // listener events arrive asynchronously: wait until the bus is quiet
    def seen = counters.events + tracer.map(_.events).getOrElse(0L)
    var last = -1L; var waited = 0
    while (seen != last && waited < 5000) { last = seen; Thread.sleep(250); waited += 250 }

    outputs.foreach { dir =>
      tracer.foreach { t => sc.removeSparkListener(t); spark.listenerManager.unregister(t)
        spark.streams.removeListener(t.streams) }
      sc.removeSparkListener(counters)
      keys.distinct.foreach { key =>
        try queries(key)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(Paths.get(dir, key).toString)
        catch { case e: Throwable => System.err.println(s"[perfbench] output $key failed: $e") }
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }

    val result = obj("setup_s" -> setupS, "passes" -> passSpans, "keys" -> records,
      "stages" -> counters.synchronized(new JList(counters.stages)),
      "retained_heap_mb" -> heapMb, "threads_delta" -> threadsDelta,
      "tmp_files_left" -> filesLeft,
      "cpus" -> Runtime.getRuntime.availableProcessors())
    tracer.foreach { t => t.synchronized {
      result.put("jobs", t.jobs); result.put("actions", t.actions); result.put("triggers", t.triggers)
    } }
    mapper.writeValue(new File(out), result)
    spark.stop()
  }
}
