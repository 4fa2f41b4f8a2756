package org.apache.spark.sql.graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanTelemetry
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{CodegenGuard, MapReduce, SparkEntry, Tables}
import graft.functions.Text

/** Closed-loop benchmark driver: one client thread issues graft queries
  * back to back through graft's public entry points and records what
  * each call cost.
  *
  * A run is: set-up (a session plus one call of every distinct query,
  * which stages graft's on-disk artifacts, fills its memos, warms the
  * JIT and writes each result for the reference check; timed from JVM
  * start) and the timed phase (whole rounds over `order` until
  * `seconds` have passed, and at least `MinRounds`). With `--trace 1`
  * the calls alternate untraced and traced (listener spans, job-group
  * tags, planning phases), so the cost of tracing is measured on the
  * same mix at the same point of the run. Spans stay in memory and are
  * written to `<work>/trace.jsonl` when the run ends; `layers.py` turns
  * them into per-layer metrics.
  *
  * Arguments (all `--key value`): workload, tables, corpus, order
  * (comma-separated call order, cycled), seconds, trace, cores, work,
  * out.
  */
object Driver {
  final case class Job(name: String, build: SparkSession => DataFrame,
      writes: Boolean)

  final case class Call(q: Int, name: String, traced: Boolean,
      start: Double, built: Double, end: Double, rows: Long, out: Int,
      error: String)

  val MinRounds = 3

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** The corpus jobs of the reference: word count and the same count
    * over the directory of text files (both written out as files, the
    * reference's collect step) and grep.
    */
  def corpusJobs(corpus: String): Seq[Job] = Seq(
    Job("wc_wordcount", s => SparkEntry.queries("wc_wordcount")(s, corpus), true),
    Job("wc_wordcount_text", s => MapReduce.mapReduce(
      s.read.text(s"$corpus/text"),
      df => df.select(explode(Text.tokens(col("value"))).as("word")),
      "word", count(lit(1)).as("cnt")), true),
    Job("wc_grep", s => SparkEntry.queries("wc_grep")(s, corpus), false))

  def registryJob(tables: String)(name: String): Job =
    Job(name, s => SparkEntry.queries(name)(s, tables), false)

  /** Objects whose `String` fields name graft's staging roots. */
  private def stagingHolders: Seq[AnyRef] = Seq(
    graft.operators.WordCount, graft.operators.Dedup, graft.operators.Similarity,
    graft.operators.Sources, graft.operators.StreamingOps,
    graft.streaming.EventsStreaming)

  private lazy val unsafe: sun.misc.Unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }

  /** graft stages artifacts under fixed absolute roots (`.../target/graft_*`)
    * that a caller cannot choose. Point each root at a directory of the
    * same name under `dir`, before any query runs, so a run writes only
    * inside its own work directory and starts with nothing staged.
    * Scala compiles these object vals to static final fields, which
    * reflection cannot set, hence `Unsafe`. Returns the roots moved.
    */
  def redirectStaging(dir: String): Seq[String] = {
    val RootName = """.*/target/(graft_[A-Za-z0-9_]+)""".r
    for {
      holder <- stagingHolders
      f <- holder.getClass.getDeclaredFields.toSeq
      if f.getType == classOf[String] &&
        java.lang.reflect.Modifier.isStatic(f.getModifiers)
      _ = f.setAccessible(true)
      old <- Option(f.get(null).asInstanceOf[String]).collect { case RootName(name) => name }
    } yield {
      unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f),
        s"$dir/$old")
      require(f.get(null) == s"$dir/$old", s"could not move ${f.getName}")
      s"${holder.getClass.getSimpleName.stripSuffix("$")}.${f.getName}"
    }
  }

  def treeBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
  }

  def memoFillNanos(): Long = Seq(
    graft.operators.WordCount.memoFillNanos, graft.operators.Bpe.memoFillNanos,
    graft.operators.Dedup.memoFillNanos, graft.operators.Dedup.pairsFillNanos,
    graft.operators.Dedup.componentsFillNanos, graft.operators.Dedup.lshFillNanos,
    graft.operators.Similarity.ivfFillNanos,
    graft.operators.Similarity.knnGraphFillNanos).map(_.get()).sum

  /** Peak resident set of this JVM (Linux `VmHWM`), or -1. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1.0
    else scala.io.Source.fromFile(f.toFile).getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val tables = opt("tables")
    val corpus = opt("corpus")
    val order = opt("order").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val jobs: Map[String, Job] =
      (if (workload == "corpus_wordcount") corpusJobs(corpus)
       else order.distinct.map(registryJob(tables))).map(j => j.name -> j).toMap
    val distinct = order.distinct.map(jobs)
    // Same starting state: graft's staging roots point into this run's
    // fresh work directory, so nothing is staged before set-up.
    val stagingDir = s"$work/staging"
    val redirected = redirectStaging(stagingDir)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft-bench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // Write-jobs write their result; the others run their full plan and
    // count its rows (`count()` would let the optimizer prune columns).
    var outSeq = 0
    def act(spark: SparkSession, job: Job, df: DataFrame, dir: String = "out"): Long =
      if (job.writes) {
        outSeq += 1
        df.write.mode("overwrite").parquet(s"$work/$dir/${job.name}/$outSeq")
        -1L
      } else {
        val rows = spark.sparkContext.longAccumulator
        df.foreach((_: Row) => rows.add(1))
        rows.value
      }

    CodegenGuard.install()
    val rec = new Recorder
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session()
    // Installed once per session; spans are kept only while `rec.on`.
    if (traced) rec.install(spark)
    val setupErrors = scala.collection.mutable.Map.empty[String, String]
    // Each query's first call writes its full result, the input of the
    // reference check; write-jobs are checked on the files their last
    // timed call leaves.
    distinct.foreach { job =>
      try {
        val df = job.build(spark)
        if (job.writes) act(spark, job, df, "warm")
        else df.write.mode("overwrite").parquet(s"$work/verify/${job.name}")
      } catch { case e: Throwable => setupErrors(job.name) = String.valueOf(e) }
    }
    val setupS = (nowMs() - t0) / 1000
    val memoFillS = memoFillNanos() / 1e9
    val stagingMb = treeBytes(stagingDir) / 1e6

    val calls = ArrayBuffer.empty[Call]
    val rounds = ArrayBuffer.empty[Double]
    val sc = spark.sparkContext
    // A traced run times rounds in blocks of four. Rounds 0 and 3 of a
    // block trace the calls at odd positions, rounds 1 and 2 those at
    // even positions, so every query has two traced and two untraced
    // calls per block, placed symmetrically in time: warm-up drift
    // over the block does not land in the tracing overhead.
    def round(k: Int): Unit = {
      System.gc()
      val r0 = System.nanoTime()
      val evenTraced = k % 4 == 1 || k % 4 == 2
      order.zipWithIndex.foreach { case (name, pos) =>
        val tag = traced && (pos % 2 == 0) == evenTraced
        rec.on = tag
        val job = jobs(name)
        val q = calls.length
        val start = nowMs()
        var built = start
        var rows = -1L
        var err: String = null
        try {
          if (tag) sc.setJobGroup(s"q$q:build", job.name)
          val df = job.build(spark)
          built = nowMs()
          if (tag) sc.setJobGroup(s"q$q:action", job.name)
          rows = act(spark, job, df)
        } catch { case e: Throwable => err = String.valueOf(e) }
        finally if (tag) sc.clearJobGroup()
        if (built == start) built = nowMs()
        calls += Call(q, job.name, tag, start, built, nowMs(), rows,
          if (job.writes) outSeq else -1, err)
        // Every span of a traced call is in, and none of an untraced
        // one is left, before the next call starts.
        if (traced) sc.listenerBus.waitUntilEmpty()
        rec.on = false
      }
      rounds += (System.nanoTime() - r0) / 1e9
    }

    // Whole rounds only, so every run times the same query mix. The JIT
    // still warms up over the first rounds, so at least MinRounds are
    // timed and their median is never the first round alone.
    val codegen0 = CodegenGuard.count
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val block = if (traced) 4 else 1
    var k = 0
    do {
      (k until k + block).foreach(round)
      k += block
    } while (System.nanoTime() < deadline || k < MinRounds)
    val codegenFallbacks = CodegenGuard.count - codegen0
    if (traced) rec.remove(spark)
    // Heap still live after a full collection: memos and caches retained.
    System.gc()
    val rt = Runtime.getRuntime
    val liveHeapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    // Everything below is outside the timed phase.
    val telemetry = if (!traced) Map.empty[String, PlanTelemetry.Counts]
      else distinct.flatMap { job =>
        try Some(job.name -> PlanTelemetry.executedOf(job.build(spark)))
        catch { case _: Throwable => None }
      }.toMap

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val probes: Seq[(String, Double)] =
      if (!traced || workload != "corpus_wordcount") Nil
      else {
        spark.sparkContext.setJobGroup("probe", "layer probes")
        def docs = Tables.documents(spark, corpus)
        def words = docs.select(explode(Text.tokens(col("text"))).as("word"))
        val out = Seq(
          "scan" -> (() => docs.agg(sum(length(col("text")))).collect()),
          "tokenize" -> (() => words.agg(sum(length(col("word")))).collect()),
          "mapreduce" -> (() => MapReduce.mapReduce(docs,
            _.select(explode(Text.tokens(col("text"))).as("word")),
            "word", count(lit(1)).as("cnt")).count())
        ).map { case (name, body) => name -> median((1 to 3).map(_ => timed(body()))) }
        spark.sparkContext.clearJobGroup()
        out
      }

    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val sparkVersion = spark.version
    spark.stop()

    if (traced) rec.write(s"$work/trace.jsonl", calls.toSeq)
    val result = Map(
      "workload" -> workload,
      "config" -> Map("cores" -> cores, "heap_mb" -> heapMb,
        "spark_version" -> sparkVersion,
        "staging_mode" -> s"fresh per run under $stagingDir",
        "staging_roots_redirected" -> redirected),
      "setup_s" -> setupS,
      "memo_fill_s" -> memoFillS,
      "staging_mb" -> stagingMb,
      "rounds_s" -> rounds.toSeq,
      "calls" -> calls.toSeq,
      "setup_errors" -> setupErrors.toMap,
      "oracle_sql" -> distinct.flatMap(job =>
        SparkEntry.oracleSql.get(job.name).map(job.name -> _)).toMap,
      "telemetry" -> telemetry.map { case (k, c) =>
        k -> Map("exchanges" -> c.exchanges, "skew_splits" -> c.skewSplits) },
      "codegen_fallbacks" -> codegenFallbacks,
      "probes" -> probes.toMap,
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb)
    Files.writeString(Paths.get(opt("out")), Json(result))
  }
}

/** Listener-side spans of the traced rounds: jobs (tagged with the
  * query id and phase by job group), stages, tasks with their metrics
  * and SQL planning phases, kept while `on`; and the progress of every
  * streaming micro-batch of the session, set-up included (graft's
  * streaming rows drain their input when first called).
  */
class Recorder {
  @volatile var on = false
  private val out = ArrayBuffer.empty[String]
  private def emit(fields: (String, Any)*): Unit = {
    val line = Json(fields.toMap)
    out.synchronized(out += line)
  }
  private def span(fields: (String, Any)*): Unit = if (on) emit(fields: _*)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = span(
      "kind" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "group" -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
      "stages" -> e.stageIds)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = span(
      "kind" -> "job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      span("kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val fields = Seq("kind" -> "task", "stage" -> e.stageId, "start" -> i.launchTime,
        "end" -> i.finishTime, "failed" -> (i.failed || i.killed))
      val m = e.taskMetrics
      val metrics = if (m == null) Nil else Seq(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "in_bytes" -> m.inputMetrics.bytesRead,
        "in_records" -> m.inputMetrics.recordsRead,
        "sh_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "sh_fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "sh_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_disk_bytes" -> m.diskBytesSpilled,
        "out_bytes" -> m.outputMetrics.bytesWritten)
      span(fields ++ metrics: _*)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) span(Seq("kind" -> "sql", "t" -> ph.values.map(_.startTimeMs).min) ++
        ph.map { case (name, p) => s"${name}_ms" -> (p.endTimeMs - p.startTimeMs) }: _*)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      emit(Seq("kind" -> "stream_batch", "query" -> String.valueOf(p.id),
        "batch" -> p.batchId, "input_rows" -> p.numInputRows) ++
        p.durationMs.asScala.map { case (k, v) => s"${k}_ms" -> v.longValue }: _*)
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def remove(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Driver-side spans (query, build, action) plus the listener lines. */
  def write(path: String, calls: Seq[Driver.Call]): Unit = {
    val lines = calls.filter(_.traced).map(c => Json(Map("kind" -> "query",
      "q" -> c.q, "name" -> c.name, "start" -> c.start, "built" -> c.built,
      "end" -> c.end))) ++ out.synchronized(out.toList)
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(value: Any): String = mapper.writeValueAsString(value)
}
