package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.ops.{CorpusScope, Util}
import graft.pipeline.{IngestPipeline, PipelineConfig, SnapshotSink}
import graft.sources.{DerbySnapshotDialect, JdbcSnapshot}

/** Benchmark runner: runs one workload against generated parquet and writes
  * every operation's timings, result digest and (when traced) listener
  * counters and spans to a JSON file. `run.py` launches it, checks the
  * digests against DuckDB and turns the records into metrics.
  *
  * Load is a closed loop with one client: operations run one after another
  * on a `local[n]` session built by [[GraftSession.builder]]. */
object Main {
  final case class Args(workload: String, data: String, tiny: String, runDir: String,
      seconds: Double, trace: Boolean, cores: Int, out: String, traceOut: String,
      snapshotRows: Long = 0)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("data"), need("tiny"), need("run-dir"),
      need("seconds").toDouble, need("trace") == "1", need("cores").toInt, need("out"),
      m.getOrElse("trace-out", ""), m.getOrElse("snapshot-rows", "0").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val b = new Bench(a)
    val result = try b.run() finally b.stop()
    Files.writeString(new File(a.out).toPath, Json(result))
    if (a.trace && a.traceOut.nonEmpty)
      Files.write(new File(a.traceOut).toPath,
        java.util.Arrays.asList(b.tracer.jsonl.toSeq: _*))
  }

  /** Query keys of the short-query mix, chosen by name, never by time:
    * every sixth key (in sorted order) of those with these prefixes, plus
    * the flagship. The stride keeps each family's share of the mix while a
    * pass fits the run. */
  val MixPrefixes = Seq("events_", "join_", "window_", "sort_", "set_", "scan_", "sql_", "stream_")
  val MixStride = 6
  def mixQueries: Seq[String] =
    SparkEntry.queries.keys.filter(k => MixPrefixes.exists(k.startsWith)).toSeq.sorted
      .zipWithIndex.collect { case (k, i) if i % MixStride == 0 => k } :+ "agg_pricing_summary"

  /** Load/no-op tick pairs in one pass of the ETL loop, and before the
    * first pass as an untimed warm-up. */
  val EtlPairs = 8
  val EtlWarmUpPairs = 2
}

final class Bench(a: Main.Args) {
  import Main._

  val tracer = new Tracer(a.trace)
  private[perfbench] var spark: SparkSession = _
  private var probe: Probe = _
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val ticks = ArrayBuffer.empty[Map[String, Any]]
  private val setups = ArrayBuffer.empty[Double]
  private val setupCpu = ArrayBuffer.empty[Double]
  private var memo = Map.empty[String, Double]
  private var peakHeapMb = 0.0
  private var traceNanos = 0L
  private var warmUpS = 0.0

  private def now = System.nanoTime()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used so far by this process, in ns, without its JIT compiler
    * threads: the work of the driver, the task slots and GC. Unlike wall
    * time it does not count time the host gives to other machines. In a
    * cold JVM compilation is most of the CPU time, and how much of it lands
    * in a measured interval depends on timing, so it is left out. */
  private def cpu = osBean.getProcessCpuTime - jitCpu()

  /** CPU ns of the JIT compiler threads (fixed in number, see run.py). */
  private def jitCpu(): Long =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath))
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
          new String(Files.readAllBytes(new File(t, "schedstat").toPath)).split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum
  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.runDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    spark = null
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }

  private def snap(): Array[Long] =
    if (probe == null) null
    else {
      val t = now
      val s = probe.snapshot(spark.sparkContext)
      traceNanos += now - t
      s
    }

  /** Live heap after a full collection, in MB; the run reports the peak.
    * The second collection picks up what Spark's cleaner released after
    * the first. */
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peakHeapMb = math.max(peakHeapMb, used)
  }

  /** Bytes this process has passed to write(2) so far (Linux proc io). */
  private def wchar(): Long = {
    val line = Files.readAllLines(new File("/proc/self/io").toPath).toArray
      .map(_.toString).find(_.startsWith("wchar:")).get
    line.split(":")(1).trim.toLong
  }

  /** Resident entries per CorpusScope family (registry and external). */
  private def scopeResident(): Long =
    CorpusScope.statsString.split(" ").filter(_.contains("=")).map { kv =>
      kv.split("=")(1).split("/")(0).toLong
    }.sum

  // ---- one operation: build, plan, execute, digest --------------------

  def runOp(pass: Int, name: String, build: SparkSession => DataFrame): Map[String, Any] = {
    val id = s"${a.workload}/$pass/$name"
    tracer("operation", "bench", id) {
      var phase = "build"
      val base = Map[String, Any]("id" -> id, "pass" -> pass, "name" -> name,
        "oracle" -> SparkEntry.oracleSql.get(name))
      try {
        val s0 = snap()
        val c0 = cpu
        val t0 = now
        val df = tracer("build", "ops", id)(build(spark))
        val t1 = now
        val s1 = snap()
        phase = "plan"
        val t2 = now
        tracer("plan", "plans", id)(df.queryExecution.executedPlan)
        val t3 = now
        val s2 = snap()
        phase = "exec"
        val t4 = now
        val rows = tracer("exec", "exec", id)(df.collect())
        val t5 = now
        val c5 = cpu
        val s3 = snap()
        phase = "digest"
        val (cols, n, digest) = Digest.of(df.schema, rows)
        val timing = Map("build_s" -> secs(t0, t1), "plan_s" -> secs(t2, t3),
          "exec_s" -> secs(t4, t5), "wall_s" -> (secs(t0, t1) + secs(t2, t3) + secs(t4, t5)),
          "cpu_s" -> secs(c0, c5))
        val counters =
          if (s0 == null) Map.empty[String, Any]
          else {
            val (ex, rex) = Probe.exchanges(df.queryExecution.executedPlan)
            Map("build" -> Probe.delta(s0, s1), "plan" -> Probe.delta(s1, s2),
              "exec" -> Probe.delta(s2, s3), "final_exchanges" -> ex,
              "final_range_exchanges" -> rex)
          }
        base ++ timing ++ counters ++ Map("ok" -> true,
          "cols" -> cols.map { case (c, t) => Seq(c, t) }, "rows" -> n, "digest" -> digest)
      } catch {
        case NonFatal(e) =>
          base ++ Map("ok" -> false, "phase" -> phase, "err_class" -> e.getClass.getName,
            "err" -> String.valueOf(e.getMessage).take(500))
      }
    }
  }

  // ---- set-up -----------------------------------------------------------

  private def setup(rep: Int): Unit = {
    val c0 = cpu
    val t0 = now
    spark = newSession()
    a.workload match {
      case "etl_ingest" =>
        val dir = new File(a.runDir, s"warm$rep")
        val etl = new Etl(new File(dir, "manifest"), new File(dir, "state.parquet"),
          s"jdbc:derby:${new File(dir, "db").getAbsolutePath};create=true")
        etl.prepareManifest(older = 20)
        etl.tick(new File(a.tiny, "stage").listFiles().filter(_.getName.endsWith(".parquet"))
          .minBy(_.getName), pass = 0)
        etl.tick(null, pass = 0)
      case _ =>
        val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
        def timeAll() = tables.map { t =>
          val t1 = now; Util.table(spark, a.data, t); secs(t1, now) }.sum
        memo = Map("miss_s" -> timeAll(), "hit_s" -> timeAll())
    }
    setups += secs(t0, now)
    setupCpu += secs(c0, cpu)
  }

  private def teardownForResetup(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    CorpusScope.dropAll()
  }

  // ---- workloads ----------------------------------------------------------

  def run(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val SetupReps = 3
    (1 to SetupReps).foreach { r =>
      if (r > 1) teardownForResetup()
      setup(r)
    }
    warmUp()
    val firstOpAt = System.currentTimeMillis()
    if (a.trace) {
      probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      tracer.start()
    }
    tracer("workload", "bench", a.workload) {
      a.workload match {
        case "mix_sf001" => passLoop(mixQueries)
        case "etl_ingest" => etlLoop()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    val functions = if (a.trace) Kernels.run(spark) else Map.empty
    Map("workload" -> a.workload, "cores" -> a.cores, "setup_s" -> setups,
      "setup_cpu_s" -> setupCpu,
      "jvm_to_first_op_s" -> (firstOpAt - jvmStart) / 1e3, "table_memo" -> memo,
      "peak_heap_mb" -> peakHeapMb, "ops" -> ops, "passes" -> passes, "ticks" -> ticks,
      "functions" -> functions, "trace_self_s" -> tracer.selfTimes,
      "trace_drain_s" -> traceNanos / 1e9, "warm_up_s" -> warmUpS)
  }

  /** Untimed and untraced, after set-up: the mix once over the tiny corpus
    * (JIT and codegen only; it shares no files with the timed corpus), or
    * the first load/no-op tick pairs of the ETL loop. */
  private def warmUp(): Unit = {
    val w0 = now
    a.workload match {
      case "etl_ingest" =>
        staged.take(EtlWarmUpPairs).foreach { f =>
          etl.tick(f, pass = 0)
          etl.tick(null, pass = 0)
        }
      case _ =>
        mixQueries.foreach { q =>
          try SparkEntry.queries(q)(spark, a.tiny).collect()
          catch { case NonFatal(_) => () } // the timed pass records the failure
        }
    }
    warmUpS = secs(w0, now)
  }

  /** Whole passes over `names` until `seconds` have elapsed, at least one. */
  private def passLoop(names: Seq[String]): Unit = {
    val deadline = now + (a.seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || now < deadline) {
      pass += 1
      val before = scopeResident()
      val drained = traceNanos
      val io0 = wchar()
      val c0 = cpu
      val t0 = now
      tracer("pass", "bench", s"pass$pass") {
        names.foreach { q =>
          ops += runOp(pass, q, s => SparkEntry.queries(q)(s, a.data))
        }
      }
      val wall = secs(t0, now)
      val cpuS = secs(c0, cpu)
      val written = wchar() - io0
      val after = scopeResident()
      sampleHeap()
      passes += Map("pass" -> pass, "wall_s" -> wall, "cpu_s" -> cpuS,
        "trace_s" -> (traceNanos - drained) / 1e9, "bytes_written" -> written,
        "scope_before" -> before, "scope_after" -> after, "scope_builds" -> (after - before),
        "scope_stats" -> CorpusScope.statsString)
    }
  }

  // ---- reference ETL loop ---------------------------------------------------

  private lazy val etl = {
    val dir = new File(a.runDir, "etl")
    val e = new Etl(new File(dir, "manifest"), new File(dir, "state.parquet"),
      s"jdbc:derby:${new File(dir, "db").getAbsolutePath};create=true")
    e.prepareManifest(older = 1000)
    e
  }
  private lazy val staged = new File(a.data, "stage").listFiles()
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  private def etlLoop(): Unit = {
    val timed = staged.drop(EtlWarmUpPairs)
    val deadline = now + (a.seconds * 1e9).toLong
    var pass = 0
    while ((pass == 0 || now < deadline) && (pass + 1) * EtlPairs <= timed.length) {
      pass += 1
      val drained = traceNanos
      val c0 = cpu
      val t0 = now
      tracer("pass", "bench", s"pass$pass") {
        (0 until EtlPairs).foreach { k =>
          etl.tick(timed((pass - 1) * EtlPairs + k), pass)
          etl.tick(null, pass)
        }
      }
      val wall = secs(t0, now)
      val cpuS = secs(c0, cpu)
      sampleHeap()
      passes += Map("pass" -> pass, "wall_s" -> wall, "cpu_s" -> cpuS,
        "trace_s" -> (traceNanos - drained) / 1e9)
    }
  }

  /** The pipeline under test plus the benchmark's checks around it. Ticks
    * of pass 0 are set-up or warm-up and are not recorded. */
  private final class Etl(manifest: File, state: File, url: String) {
    val table = "LINEITEM_SNAPSHOT"
    val props = new Properties()
    props.setProperty("createTableColumnTypes",
      "l_returnflag VARCHAR(1), l_linestatus VARCHAR(1)")
    private val dbDir = new File(url.stripPrefix("jdbc:derby:").takeWhile(_ != ';'))
    private var last: Map[String, Any] = Map.empty

    private val sink = new SnapshotSink {
      def load(s: SparkSession, name: String): Unit = {
        val enter = now
        val io0 = wchar()
        val t0 = System.currentTimeMillis()
        tracer("jdbc_write", "sources", name) {
          JdbcSnapshot.snapshotOverwrite(s.read.parquet(new File(manifest, name).getPath),
            url, table, numPartitions = a.cores, props = props)
        }
        val t1 = now
        tracer("grant", "sources", name) {
          JdbcSnapshot.grantReader(url, props, "bench", table, DerbySnapshotDialect)
        }
        val t2 = now
        val touched = Option(dbDir.listFiles()).toSeq.flatten
          .flatMap(f => Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f)))
          .count(_.lastModified() >= t0)
        last = Map("enter" -> enter, "write_s" -> secs(enter, t1), "grant_s" -> secs(t1, t2),
          "exit" -> t2, "bytes_written" -> (wchar() - io0), "files_written" -> touched)
      }
    }
    private val pipeline = new IngestPipeline(
      PipelineConfig(manifest.getPath, state.getPath, suffix = ".parquet"), sink)

    /** ~`older` already-imported artifact names plus files that do not
      * match the suffix: the listing the choose step scans every tick. */
    def prepareManifest(older: Int): Unit = {
      manifest.mkdirs()
      val d0 = java.time.LocalDate.of(2020, 1, 1)
      (0 until older).foreach { k =>
        val day = d0.plusDays(k).toString.replace("-", "")
        new File(manifest, s"lineitem_$day.parquet").createNewFile()
        if (k % 5 == 0) new File(manifest, s"lineitem_$day.csv").createNewFile()
        if (k % 7 == 0) new File(manifest, s"lineitem_$day.parquet.md5").createNewFile()
      }
    }

    /** One tick: land `artifact` (null for a no-op tick), run the pipeline,
      * then check the result, the state file and (after a load) the table. */
    def tick(artifact: File, pass: Int): Unit = {
      val kind = if (artifact == null) "noop" else "load"
      val landed = Option(artifact).map { f =>
        val dst = new File(manifest, f.getName)
        Files.copy(f.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        dst
      }
      last = Map.empty
      val base = Map[String, Any]("kind" -> kind, "pass" -> pass,
        "artifact" -> landed.map(_.getName).orNull,
        "input_bytes" -> landed.map(_.length()).getOrElse(0L))
      val rec = tracer("tick", "bench", kind) {
        try {
          val s0 = snap()
          val io0 = wchar()
          val c0 = cpu
          val t0 = now
          val got = pipeline.run(spark)
          val t1 = now
          val c1 = cpu
          val written = wchar() - io0
          val s1 = snap()
          val enter = last.getOrElse("enter", t1).asInstanceOf[Long]
          val exit = last.getOrElse("exit", t1).asInstanceOf[Long]
          tracer.record("choose", "pipeline", kind, t0, enter)
          if (artifact != null) tracer.record("commit", "pipeline", kind, exit, t1)
          val check = tracer("read_back", "sources", kind) { verify(readBack = artifact != null) }
          base ++ last ++ check ++ Map("ok" -> true, "wall_s" -> secs(t0, t1),
            "cpu_s" -> secs(c0, c1),
            "choose_s" -> secs(t0, enter), "commit_s" -> secs(exit, t1),
            "tick_bytes_written" -> written,
            "returned" -> got.orNull) ++
            (if (s0 != null) Map("exec" -> Probe.delta(s0, s1)) else Map.empty)
        } catch {
          case NonFatal(e) =>
            base ++ Map("ok" -> false, "err_class" -> e.getClass.getName,
              "err" -> String.valueOf(e.getMessage).take(500))
        }
      }
      if (pass > 0) ticks += (rec - "enter" - "exit")
    }

    /** The state file's names and, after a load, the loaded table's
      * checksums read back over JDBC. */
    private def verify(readBack: Boolean): Map[String, Any] = {
      val st = if (state.exists()) spark.read.parquet(state.getPath).collect().map(_.getString(0))
        else Array.empty[String]
      if (!readBack) return Map("state" -> st.toSeq)
      val t0 = now
      // snapshots draw l_orderkey from [0, rows / 4), as TPC-H does
      val agg = JdbcSnapshot.readTable(spark, url.takeWhile(_ != ';'), table, "L_ORDERKEY",
        0L, math.max(a.snapshotRows / 4, 1L), a.cores, props)
        .agg(count(lit(1)), sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
          sum("l_linenumber"),
          sum(round(col("l_quantity") * 100).cast("long")),
          sum(round(col("l_extendedprice") * 100).cast("long")),
          sum(round(col("l_discount") * 100).cast("long")),
          sum(round(col("l_tax") * 100).cast("long")),
          sum(ascii(col("l_returnflag"))), sum(ascii(col("l_linestatus"))),
          sum(datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date"))))
        .collect()(0)
      Map("state" -> st.toSeq, "read_back_s" -> secs(t0, now),
        "read_back" -> agg.toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Number].longValue))
    }
  }
}
