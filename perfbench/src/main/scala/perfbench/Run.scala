package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Main, SparkEntry}
import graft.io.ParquetMeta
import graft.meta.MetadataCompiler

/** One benchmark process: a SparkSession, one cold operation, warm-up
  * operations, then measured operations until the window closes. It times the program only
  * through its public entry points (`graft.Main.run` and
  * `graft.SparkEntry.queries`) and records what each operation returned,
  * so the caller can check it. With `--trace 1` it also records spans and
  * the Spark/streaming listener events that the per-layer metrics are
  * computed from. Everything is written as one JSON file at the end.
  *
  * {{{ perfbench.Run --workload validate|gates --input <dir> --out <dir>
  *       --seconds <s> --warmup-ops <n> --min-ops <n> --trace 0|1 --cores <n>
  *       [--table <T>] [--sf <dir>] [--gates a,b,c] }}}
  *
  * `--workload oracle --out <dir> --gates a,b,c` instead writes the gates'
  * oracle SQL (`graft.SparkEntry.oracleSql`) as the result.
  */
object Run {

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNs(): Long = cpuBean.getProcessCpuTime

  private def epochMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  private def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def jlist(xs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(l.add)
    l
  }

  /** Listener events, kept in memory until the run ends. */
  final class Recorder extends SparkListener {
    val jobs = new JList[Any]()
    val stages = new JList[Any]()
    val executions = new JList[Any]()
    val progress = new JList[Any]()
    private val failedTasks = mutable.Map[Int, Int]().withDefaultValue(0)

    // A SQL action's jobs may be submitted from a pool thread, so the call
    // site that names the calling method is the SQL execution's.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executions.add(jmap("execution" -> s.executionId,
          "callsite" -> s.details))
      }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val last = e.stageInfos.maxBy(_.stageId)
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.add(jmap("event" -> "start", "job" -> e.jobId, "t" -> e.time,
        "stages" -> jlist(e.stageIds), "execution" -> execution,
        "callsite" -> last.details))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.add(jmap("event" -> "end", "job" -> e.jobId, "t" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.reason != Success) failedTasks(e.stageId) += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages.add(jmap(
          "stage" -> s.stageId,
          "attempt" -> s.attemptNumber(),
          "tasks" -> s.numTasks,
          "submitted" -> s.submissionTime.getOrElse(-1L),
          "completed" -> s.completionTime.getOrElse(-1L),
          "failed_tasks" -> failedTasks(s.stageId),
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "read_bytes" -> m.inputMetrics.bytesRead,
          "write_bytes" -> m.outputMetrics.bytesWritten,
          "write_rows" -> m.outputMetrics.recordsWritten,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> m.diskBytesSpilled))
      }

    val streaming: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Recorder.this.synchronized {
          val p = e.progress
          progress.add(jmap(
            "run" -> p.runId.toString,
            "batch" -> p.batchId,
            "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "rows" -> p.numInputRows,
            "durations" -> new JMap[String, Any](p.durationMs),
            "state" -> jlist(p.stateOperators.map(o => jmap(
              "rows" -> o.numRowsTotal,
              "commit_ms" -> o.commitTimeMs,
              "mem_bytes" -> o.memoryUsedBytes)))))
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    if (workload == "oracle") {
      val sql = SparkEntry.oracleSql
      new ObjectMapper().writeValue(out.resolve("result.json").toFile,
        jmap(opt("gates").split(",").toSeq.map(g => g -> sql(g)): _*))
      return
    }
    val input = opt.getOrElse("input", "")
    val seconds = opt("seconds").toDouble
    val warmupOps = opt("warmup-ops").toInt
    val minOps = opt("min-ops").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores")

    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(rec.streaming)
    }

    val spans = new JList[Any]()
    def span[A](name: String, op: Int, parent: String)(body: => A): A = {
      val t0 = epochMs()
      try body
      finally spans.add(jmap("name" -> name, "op" -> op, "parent" -> parent,
        "start" -> t0, "end" -> epochMs()))
    }

    // An operation returns what it observed; its wall and CPU time are
    // taken around the program calls only.
    var timedNs = 0L
    var timedCpuNs = 0L
    def timed[A](body: => A): A = {
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      try body
      finally {
        timedNs += System.nanoTime() - t0
        timedCpuNs += cpuNs() - c0
      }
    }

    val operation: Int => JMap[String, Any] = workload match {
      case "validate" =>
        val table = opt("table")
        val sinks = Paths.get(input, "inputs", "VALIDATION")
        val metaCsv = s"$input/metadata/csv/${table}_metadata.csv"
        val checkLine = """^(\S+)\s+(PASS|FAIL)\s+failed=(\d+)\b.*""".r
        op => {
          deleteTree(sinks)
          if (trace) span("meta.compile", op, s"op-$op") {
            val json = MetadataCompiler.compileToJsonFile(metaCsv)
            MetadataCompiler.fromJson(Files.readString(Paths.get(json)))
          }
          val buf = new ByteArrayOutputStream()
          val code = span("op", op, "") {
            timed(Console.withOut(new PrintStream(buf, true, "UTF-8")) {
              Main.run(spark, input, table)
            })
          }
          val checks = new JMap[String, Any]()
          buf.toString(StandardCharsets.UTF_8).linesIterator.foreach {
            case checkLine(name, status, n) =>
              checks.put(name, jmap("passed" -> (status == "PASS"),
                "failed" -> n.toLong))
            case _ => ()
          }
          def rows(dir: String): Long = {
            val p = sinks.resolve(s"${table}_$dir")
            if (Files.exists(p)) ParquetMeta.rowCount(p.toString) else 0L
          }
          jmap("exit_code" -> code, "checks" -> checks,
            "sink_rows" -> jmap("TMP" -> rows("TMP"),
              "TMP_TYPED" -> rows("TMP_TYPED")))
        }
      case "gates" =>
        val sf = opt("sf")
        val gates = opt("gates").split(",").toSeq
        // The cleanup graft.Bench runs between gates: cached and
        // checkpointed blocks outlive a query, so drop them (untimed).
        def release(): Unit = {
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
        }
        op => {
          val pass = out.resolve(s"pass-$op")
          val gateSeconds = new JMap[String, Any]()
          span("op", op, "") {
            gates.foreach { g =>
              val before = timedNs
              span(s"gate:$g", op, s"op-$op") {
                timed(SparkEntry.queries(g)(spark, sf)
                  .write.mode("overwrite").parquet(pass.resolve(g).toString))
              }
              gateSeconds.put(g, (timedNs - before) / 1e9)
              release()
            }
          }
          jmap("outputs" -> pass.toString, "gate_s" -> gateSeconds)
        }
    }

    val ops = new JList[Any]()
    var coldEnd = 0.0
    var windowStart = 0L
    var op = 0
    // Op 0 is the cold operation that ends set-up. The next `warmupOps`
    // let the JIT settle; the window then measures at least `minOps`.
    while (op <= warmupOps + minOps ||
        System.nanoTime() - windowStart < seconds * 1e9) {
      timedNs = 0L
      timedCpuNs = 0L
      val observed =
        try operation(op)
        catch { case e: Exception => jmap("error" -> e.toString) }
      observed.put("phase",
        if (op == 0) "cold" else if (op <= warmupOps) "warmup" else "measured")
      observed.put("wall_s", timedNs / 1e9)
      observed.put("cpu_s", timedCpuNs / 1e9)
      ops.add(observed)
      if (op == 0) coldEnd = epochMs()
      if (op == warmupOps) windowStart = System.nanoTime()
      op += 1
    }
    val peakRssKb = vmHwmKb()
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop() // drains the listener bus, so every event is recorded

    val result = jmap(
      "cold_end_epoch_ms" -> coldEnd,
      "peak_rss_kb" -> peakRssKb,
      "ops" -> ops)
    if (trace) result.put("trace", jmap("spans" -> spans, "jobs" -> rec.jobs,
      "stages" -> rec.stages, "executions" -> rec.executions,
      "progress" -> rec.progress))
    new ObjectMapper().writeValue(out.resolve("result.json").toFile, result)
  }
}
