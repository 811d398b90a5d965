package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry, Tables}
import graft.engine.{Auth, SessionState, Statement}
import graft.server.GraftHttpServer
import graft.sources.{ArrowIO, Ingest}
import java.io.{BufferedReader, ByteArrayOutputStream, File, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one Spark application hosting `GraftHttpServer` on
  * loopback, plus the in-process paths a load generator cannot reach.
  *
  * Usage: `Host <dataDir>`. The host registers the tables, starts
  * the server, prints one `@@{"ready":...}` line, then answers one JSON
  * command per stdin line with one `@@{...}` line on stdout:
  *
  *  - `pipeline`: passes over `SparkEntry.countQueries` for the named ops;
  *  - `replay`: statements replayed through the layers' public functions
  *    (`Auth.validate`, `SessionState.prepare`, `Statement.create`,
  *    `AdmissionController.withSlot`, `Statement.executeWithTimeout`,
  *    `ArrowIO`, `Ingest`);
  *  - `spans`: write the recorded spans as JSON lines;
  *  - `stats`: heap after a forced GC, GC and JIT totals, record counts;
  *  - `quit`.
  *
  * `pipeline` and `replay` take `trace`: with it, each call is wrapped in a
  * span and Spark's counters are attached to the statement's root span.
  */
object Host {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val InstanceId = "graft-instance"
  private val RwTable = "bench_rw"

  private def emit(m: Map[String, Any]): Unit = {
    println("@@" + mapper.writeValueAsString(m))
    System.out.flush()
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(dataDir) = args
    val tMain = System.nanoTime()
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val tSpark = System.nanoTime()
    Tables.ensure(spark, dataDir)
    val tTables = System.nanoTime()
    val rnd = new java.security.SecureRandom()
    def token(): String = {
      val b = new Array[Byte](16)
      rnd.nextBytes(b)
      java.util.HexFormat.of().formatHex(b)
    }
    val secret = token()
    val password = token()
    val server = new GraftHttpServer(spark, secret, Auth.hashPassword(secret, password),
      instanceId = InstanceId,
      onSessionCreate = s => Tables.ensure(s, dataDir),
      unrestrictedLicense = true)
    val port = server.start(0)
    val tServer = System.nanoTime()
    val host = new Host(spark, server, secret, dataDir)
    emit(Map("ready" -> Map(
      "port" -> port, "user" -> "gizmosql_username", "password" -> password,
      "jvm_to_main_ms" -> (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime - ms(tMain, System.nanoTime())),
      "spark_start_ms" -> ms(tMain, tSpark),
      "tables_ms" -> ms(tSpark, tTables),
      "server_start_ms" -> ms(tTables, tServer),
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" ||
          k.startsWith("spark.shuffle.")
      },
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)))
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    var running = true
    while (running && line != null) {
      val cmd = mapper.readValue(line, classOf[Map[String, Any]])
      cmd("cmd") match {
        case "quit" => running = false
        case other =>
          val reply =
            try host.handle(other.toString, cmd)
            catch { case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") }
          emit(reply)
      }
      if (running) line = in.readLine()
    }
    server.close()
    spark.stop()
  }
}

final class Host(spark: SparkSession, server: GraftHttpServer, secret: String,
    dataDir: String) {
  import Host._

  private val tracer = new Tracer(false)
  private val counters = new Counters
  private val listened = mutable.Set.empty[SparkSession]
  // (traced?, session id, template) -> prepared handle, as a client keeps
  // them; traced and untraced calls keep their own, so each pays one prepare
  private val handles = mutable.Map.empty[(Boolean, String, String), String]
  // (session id, text) -> the DataFrame Statement.create returned last time
  private val lastDf = mutable.Map.empty[(String, String), DataFrame]
  private var stmtSeq = 0

  private def listen(s: SparkSession): Unit =
    if (tracer.enabled && listened.add(s)) s.listenerManager.register(counters)

  /** Spans and Spark's counters on or off. Off, no listener of ours is
    * registered, so untraced calls run as they would without the benchmark.
    */
  private def setTracing(on: Boolean): Unit = {
    if (on && !tracer.enabled) {
      tracer.enabled = true
      spark.sparkContext.addSparkListener(counters)
      listen(spark)
    } else if (!on && tracer.enabled) {
      spark.sparkContext.removeSparkListener(counters)
      listened.foreach(_.listenerManager.unregister(counters))
      listened.clear()
      tracer.enabled = false
    }
    counters.reset()
  }

  def handle(name: String, cmd: Map[String, Any]): Map[String, Any] = name match {
    case "pipeline" =>
      setTracing(cmd.get("trace").contains(true))
      pipeline(cmd)
    case "replay" =>
      setTracing(cmd.get("trace").contains(true))
      replay(cmd)

    case "spans" =>
      val w = Files.newBufferedWriter(Paths.get(cmd("file").toString))
      try tracer.spans.asScala.foreach { s =>
        w.write(mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "stmt" -> s.stmt, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "attrs" -> s.attrs)))
        w.newLine()
      } finally w.close()
      Map("spans" -> tracer.spans.size)

    case "stats" =>
      // collect, let Spark's ContextCleaner drop the blocks of collected
      // broadcasts and shuffles, collect again
      System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
      val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      Map("heap_used_mb" -> mem.getUsed / 1048576.0,
        "gc_ms" -> gcMs, "jit_ms" -> jitMs,
        "observability_records" -> server.observability.snapshot.size)

    case other => Map("error" -> s"unknown command $other")
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Spark counters and Catalyst phases of the statement that just ran:
    * jobs of `groups`, plus the job wall of `execGroup` alone (the jobs the
    * result encode pulled).
    */
  private def statementCounters(groups: Set[String], execGroup: String = ""): Map[String, Double] = {
    if (!tracer.enabled) return Map.empty
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val e = counters.take(Set(execGroup).filter(_.nonEmpty))
    val a = counters.take(groups - execGroup)
    a.add(e)
    val ph = counters.takePhases()
    Map("exec_job_wall_ms" -> e.jobWallMs, "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
      "stages_skipped" -> a.skipped.toDouble, "tasks" -> a.tasks.toDouble,
      "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs.toDouble, "job_wall_ms" -> a.jobWallMs,
      "input_bytes" -> a.inputBytes.toDouble, "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
      "shuffle_read_bytes" -> a.shuffleRead.toDouble, "spill_bytes" -> a.spillBytes.toDouble,
      "parse_ms" -> ph("parsing"), "analyze_ms" -> ph("analysis"),
      "optimize_ms" -> ph("optimization"), "plan_ms" -> ph("planning"))
  }

  /** `passes` passes over the operator batch, in process. */
  private def pipeline(cmd: Map[String, Any]): Map[String, Any] = {
    val ops = cmd("ops").asInstanceOf[Seq[String]]
    val n = cmd("passes").toString.toInt
    val queries = SparkEntry.countQueries
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.size < n) {
      val p0 = System.nanoTime()
      ops.foreach { op =>
        stmtSeq += 1
        val stmt = stmtSeq
        val group = s"perfbench-op-$stmt"
        val id = tracer.newId()
        val c0 = System.nanoTime()
        spark.sparkContext.setJobGroup(group, op, interruptOnCancel = false)
        val (count, err) =
          try (queries(op)(spark, dataDir), null)
          catch { case e: Throwable => (-1L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          finally spark.sparkContext.clearJobGroup()
        val c1 = System.nanoTime()
        tracer.add(id, -1, s"operators.$op", stmt, c0, c1, statementCounters(Set(group)))
        calls += Map("op" -> op, "pass" -> passes.size, "lat_ms" -> ms(c0, c1),
          "count" -> count, "error" -> err)
      }
      passes += ms(p0, System.nanoTime()) / 1000.0
    }
    Map("calls" -> calls.toSeq, "passes_s" -> passes.toSeq,
      "oracle" -> ops.map(o => o -> SparkEntry.oracleSql.getOrElse(o, null)).toMap)
  }

  private def tableBytes(): Map[String, (Long, Long)] = {
    val root = new File(sys.props("java.io.tmpdir"), s"graft-warehouse/$RwTable")
    if (!root.exists()) Map.empty
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile)
      .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
  }

  private def bytesWritten(before: Map[String, (Long, Long)]): Long =
    tableBytes().collect { case (p, (len, mt)) if !before.get(p).contains((len, mt)) => len }.sum

  /** Replay statements through the layers' public functions, one at a
    * time, in order. Read results are written as Arrow IPC files to
    * `outdir` (outside the timed span) so the caller can check them.
    */
  private def replay(cmd: Map[String, Any]): Map[String, Any] = {
    val ops = cmd("ops").asInstanceOf[Seq[Map[String, Any]]]
    val tokens = cmd("tokens").asInstanceOf[Map[String, String]]
    val outDir = cmd("outdir").toString
    new File(outDir).mkdirs()
    Map("results" -> ops.map(op => runOne(op, tokens(op("session").toString), outDir)))
  }

  private def runOne(op: Map[String, Any], token: String, outDir: String): Map[String, Any] = {
    stmtSeq += 1
    val stmt = stmtSeq
    val kind = op("kind").toString
    val root = tracer.newId()
    val stmtGroup = s"perfbench-stmt-$stmt"
    val t0 = System.nanoTime()
    var session: SessionState = null
    var sink: ByteArrayOutputStream = null
    var rows = -1L
    val attrs = mutable.Map.empty[String, Double]
    val err =
      try {
        val id = tracer.span("auth.validate", root, stmt) {
          Auth.validate(secret, token, InstanceId).fold(e => throw new SecurityException(e), identity)
        }
        session = server.sessions.getOrCreate(id.sessionId, id.username, id.role, id.catalogAccess)
        listen(session.spark)
        spark.sparkContext.setJobGroup(stmtGroup, kind, interruptOnCancel = false)
        kind match {
          case "sql" | "delete" =>
            val text = op("text").toString
            val before = if (kind == "delete") tableBytes() else Map.empty[String, (Long, Long)]
            val df = tracer.span(if (kind == "delete") "dml.delete" else "statement.create", root, stmt) {
              Statement.create(server.sessions, session, server.global, text)
            }
            if (kind == "delete") attrs("bytes_written") = bytesWritten(before).toDouble
            else {
              val key = (session.id, text)
              attrs("cache_hit") = if (lastDf.get(key).exists(_ eq df)) 1.0 else 0.0
              lastDf(key) = df
            }
            sink = new ByteArrayOutputStream()
            rows = execute(session, df, sink, root, stmt)
          case "prepared" =>
            val template = op("template").toString
            val params = op("params").asInstanceOf[Map[String, Any]]
            val handle = handles.getOrElseUpdate((tracer.enabled, session.id, template),
              tracer.span("sessions.prepare", root, stmt)(session.prepare(template).handle))
            val df = tracer.span("statement.create", root, stmt) {
              session.executePrepared(handle, params)
            }
            attrs("cache_hit") = 0.0
            sink = new ByteArrayOutputStream()
            rows = execute(session, df, sink, root, stmt)
          case "ingest" =>
            val bytes = Files.readAllBytes(Paths.get(op("arrow").toString))
            val data = tracer.span("arrow.decode", root, stmt) {
              ArrowIO.fromArrowStream(session.spark, bytes)
            }
            val before = tableBytes()
            val r = tracer.span("ingest.write", root, stmt) {
              Ingest.ingest(session.spark, data, op("table").toString, Ingest.IfExists.Append)
            }
            rows = r.rowsIngested
            attrs("bytes_written") = bytesWritten(before).toDouble
            attrs("user_bytes") = bytes.length.toDouble
        }
        null
      } catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally spark.sparkContext.clearJobGroup()
    val t1 = System.nanoTime()
    val execGroup = Option(session).map(_.jobGroup).getOrElse("")
    tracer.add(root, -1, "stmt", stmt, t0, t1,
      attrs.toMap ++ statementCounters(Set(stmtGroup, execGroup), execGroup) +
        ("rows" -> rows.toDouble))
    val out =
      if (sink != null && err == null) {
        val f = new File(outDir, s"$stmt.arrow")
        Files.write(f.toPath, sink.toByteArray)
        f.getPath
      } else null
    Map("lat_ms" -> ms(t0, t1), "error" -> err, "rows" -> rows,
      "bytes" -> Option(sink).map(_.size).getOrElse(0), "result" -> out)
  }

  /** The serving path's execution step: admission slot, then the timeout
    * worker, then the Arrow IPC encode of the result into `sink`.
    */
  private def execute(session: SessionState, df: DataFrame, sink: ByteArrayOutputStream,
      root: Int, stmt: Int): Long = {
    val waitId = tracer.newId()
    val w0 = System.nanoTime()
    server.admission.withSlot(false, () => session.killRequested) {
      tracer.add(waitId, root, "admission.wait", stmt, w0, System.nanoTime())
      val execId = tracer.newId()
      val e0 = System.nanoTime()
      try Statement.executeWithTimeout(session, 0L) {
        tracer.span("arrow.encode", execId, stmt)(ArrowIO.writeArrowStream(df, sink))
      } finally tracer.add(execId, root, "statement.execute", stmt, e0, System.nanoTime())
    }
  }
}
