package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** JVM side of the benchmark. It links against the compiled `graft`
  * classes and calls only their public surface (`SparkEntry`).
  *
  *   oracles <out.json>
  *       writes `{"keys": [...], "oracles": {key: sql}}`.
  *   run <fixtureDir> <keysFile> <warmupFile> <cpus> <trace 0|1> <out.json>
  *       builds a local[cpus] session, warms it up with the untimed keys
  *       of `warmupFile`, then runs the keys of `keysFile` one after
  *       another on this thread. Untraced, a key is timed as Bench
  *       times it: build plus `.count()` in one span. Traced, the same
  *       work is split into build / plan / exec phases under per-phase
  *       job groups, and a SparkListener attributes jobs, stages and
  *       task metrics to them. Results are written to `out.json` after
  *       the session stops (stopping drains the listener bus).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    args(0) match {
      case "oracles" => dumpOracles(args(1))
      case "run" =>
        run(args(1), readKeys(args(2)), readKeys(args(3)), args(4).toInt,
          args(5) == "1", args(6))
      case other => sys.error(s"unknown mode $other")
    }
    // Streaming and Spark helper threads are not all daemons.
    System.exit(0)
  }

  def dumpOracles(out: String): Unit = {
    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
    val o = graft.SparkEntry.oracleSql
    val body = keys.filter(o.contains).map(k => s"${Json.str(k)}: ${Json.str(o(k))}")
    Files.writeString(Paths.get(out),
      s"""{"keys": ${keys.map(Json.str).mkString("[", ", ", "]")},
         |"oracles": ${body.mkString("{", ",\n", "}")}}
         |""".stripMargin)
  }

  private def epochMs(): Long = System.currentTimeMillis()

  private def readKeys(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  def run(fixture: String, keys: Seq[String], warmup: Seq[String], cpus: Int,
          trace: Boolean, out: String): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = epochMs()
    val probe = new Probe
    if (trace) spark.sparkContext.addSparkListener(probe)
    // Untimed keys of the same pool: in a fresh JVM the first keys
    // otherwise run at a fraction of their speed while the JIT compiles
    // Catalyst, codegen and I/O paths, and which keys come first is the
    // seed's. They run on `cpus` threads at once, so the JIT sees more
    // of those paths per second of set-up than one key at a time gives.
    spark.sparkContext.setJobGroup("warmup", "warmup")
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](warmup.asJava)
    val workers = (1 to math.min(cpus, warmup.size)).map { _ =>
      val t = new Thread(() => {
        var k = queue.poll()
        while (k != null) {
          try graft.SparkEntry.queries(k)(spark, fixture).count()
          catch { case _: Throwable => () }
          k = queue.poll()
        }
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    spark.sparkContext.clearJobGroup()
    val readyMs = epochMs()
    val spans = mutable.ArrayBuffer[Span]()
    spans += Span("session.start", -1, jvmStartMs, sessionMs, None)
    spans += Span("session.warmup", -1, sessionMs, readyMs, None)
    val results = keys.zipWithIndex.map { case (key, i) =>
      if (trace) tracedKey(spark, fixture, key, i, spans) else timedKey(spark, fixture, key)
    }
    val endMs = epochMs()
    spark.stop()

    val w = new PrintWriter(out, "UTF-8")
    try {
      w.println("{")
      w.println(s""""jvm_start_ms": $jvmStartMs, "session_ms": $sessionMs, "ready_ms": $readyMs, "end_ms": $endMs,""")
      w.println(s""""spark_version": ${Json.str(spark.version)}, "max_heap_bytes": ${Runtime.getRuntime.maxMemory},""")
      w.println(""""keys": [""")
      w.println(results.map(_.json).mkString(",\n"))
      w.println("],")
      if (trace) {
        w.println(s""""layers": {""")
        w.println(keys.indices.map(i => s""""$i": ${probe.json(i.toString)}""").mkString(",\n"))
        w.println("},")
        w.println(s""""unattributed": ${probe.json("")},""")
      }
      w.println(""""spans": [""")
      w.println(spans.map(_.json).mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }

  final case class Span(name: String, key: Int, startMs: Long, endMs: Long,
                        parent: Option[String], startNs: Long = 0L, endNs: Long = 0L) {
    def seconds: Double =
      if (endNs > startNs) (endNs - startNs) / 1e9 else (endMs - startMs) / 1e3
    def json: String =
      s"""{"name": ${Json.str(name)}, "key": $key, "start_ms": $startMs, "end_ms": $endMs, """ +
        s""""s": ${seconds}, "parent": ${parent.map(Json.str).getOrElse("null")}}"""
  }

  final case class KeyResult(key: String, seconds: Double, rows: Long, error: Option[String],
                             phases: Seq[(String, Double)] = Nil) {
    def json: String = {
      val ph = phases.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
      s"""{"key": ${Json.str(key)}, "s": $seconds, "rows": $rows, """ +
        s""""error": ${error.map(Json.str).getOrElse("null")}, "phases": $ph}"""
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Exactly graft.Bench's timing: build plus `.count()` in one span. */
  def timedKey(spark: SparkSession, fixture: String, key: String): KeyResult = {
    val fn = graft.SparkEntry.queries(key)
    val t0 = System.nanoTime()
    val (rows, err) =
      try (fn(spark, fixture).count(), None)
      catch { case e: Throwable => (-1L, Some(describe(e))) }
    KeyResult(key, (System.nanoTime() - t0) / 1e9, rows, err)
  }

  /** The same work as `timedKey`, split at the boundaries Dataset.count
    * itself has: build the DataFrame, plan its `groupBy().count()`, and
    * run the action on that very QueryExecution. */
  def tracedKey(spark: SparkSession, fixture: String, key: String, i: Int,
                spans: mutable.ArrayBuffer[Span]): KeyResult = {
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries(key)
    val phases = mutable.ArrayBuffer[(String, Double)]()
    def phase[T](name: String)(body: => T): T = {
      sc.setJobGroup(s"$i", s"$key $name")
      sc.setLocalProperty(Probe.KeyProp, s"$i")
      sc.setLocalProperty(Probe.PhaseProp, name)
      val (ms, ns) = (epochMs(), System.nanoTime())
      try body
      finally {
        val span = Span(name, i, ms, epochMs(), Some("key"), ns, System.nanoTime())
        spans += span
        phases += name -> span.seconds
      }
    }
    val (ms0, ns0) = (epochMs(), System.nanoTime())
    val (rows, err) =
      try {
        val df = phase("build")(fn(spark, fixture))
        val qe = phase("plan") {
          val q = df.groupBy().count().asInstanceOf[classic.Dataset[Row]].queryExecution
          q.executedPlan
          q
        }
        val p = qe.tracker.phases
        for (n <- Seq("analysis", "optimization", "planning"))
          phases += s"tracker.$n" -> p.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
        val n = phase("exec") {
          SQLExecution.withNewExecutionId(qe, Some("count")) {
            qe.executedPlan.resetMetrics()
            qe.executedPlan.executeCollect().head.getLong(0)
          }
        }
        (n, None)
      } catch { case e: Throwable => (-1L, Some(describe(e))) }
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty(Probe.KeyProp, null)
        sc.setLocalProperty(Probe.PhaseProp, null)
      }
    val root = Span("key", i, ms0, epochMs(), None, ns0, System.nanoTime())
    spans += root
    KeyResult(key, root.seconds, rows, err, phases.toSeq)
  }
}

object Probe {
  // A streaming query's micro-batch thread inherits these local
  // properties but replaces the job group with its run id, so jobs are
  // attributed by the harness's own properties, not by the job group.
  val KeyProp = "perfbench.key"
  val PhaseProp = "perfbench.phase"
  val Fields = Seq(
    "jobs", "stages", "tasks", "failed_tasks", "empty_tasks", "task_run_s", "task_cpu_s",
    "gc_s", "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "scan_bytes", "scan_rows", "write_bytes", "write_rows")
}

/** Counts jobs, stages and task metrics per (key, phase). The key is its
  * position in the run, so repeated keys stay apart.
  * All callbacks arrive on the listener-bus thread. */
class Probe extends SparkListener {
  import Probe._
  private val stageOwner = mutable.Map[Int, (String, String)]()
  private val totals = mutable.Map[(String, String), Array[Double]]()

  private def owner(p: java.util.Properties): (String, String) =
    if (p == null) ("", "none")
    else (Option(p.getProperty(KeyProp)).getOrElse(""),
          Option(p.getProperty(PhaseProp)).getOrElse("none"))

  private def add(o: (String, String), field: String, v: Double): Unit =
    totals.getOrElseUpdate(o, new Array[Double](Fields.size))(Fields.indexOf(field)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = add(owner(e.properties), "jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val o = owner(e.properties)
    stageOwner(e.stageInfo.stageId) = o
    add(o, "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = stageOwner.getOrElse(e.stageId, ("", "none"))
    add(o, "tasks", 1)
    if (e.reason != Success) add(o, "failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (read == 0) add(o, "empty_tasks", 1)
      add(o, "task_run_s", m.executorRunTime / 1e3)
      add(o, "task_cpu_s", m.executorCpuTime / 1e9)
      add(o, "gc_s", m.jvmGCTime / 1e3)
      add(o, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(o, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(o, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(o, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add(o, "scan_rows", m.inputMetrics.recordsRead.toDouble)
      add(o, "write_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(o, "write_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  /** `{phase: {field: value}}` for one key position ("" for none). */
  def json(key: String): String =
    totals.toSeq.filter(_._1._1 == key).sortBy(_._1._2).map { case ((_, ph), a) =>
      Json.str(ph) + ": " + Fields.zip(a).map { case (f, v) => s"${Json.str(f)}: $v" }
        .mkString("{", ", ", "}")
    }.mkString("{", ", ", "}")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
