package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.GraftSession

/** The JVM side of the benchmark: one client, closed loop, one operation
  * in flight, on `local[4]`.
  *
  * Set-up (timed as `setup_s`, from JVM launch): start the session,
  * build the workload's standing state, run a cold pass on the workload's
  * small warm-up input (if it has one) and two untimed warm-up passes.
  * Measurement: passes until `--seconds` have elapsed (at least three);
  * every pass restores the standing state untimed, so all passes start
  * from identical state. With `--trace 1` passes alternate untraced and
  * traced; traced passes record spans and per-layer counters.
  *
  * Correctness: the first warm-up pass's results are written as parquet for the
  * DuckDB comparison made afterwards by run.py; every timed pass must
  * reproduce the warm-up's order-insensitive result hash.
  *
  *   Harness --workload W --input DIR --work DIR --seconds S --trace 0|1 --out FILE
  */
object Harness {
  val Cores = 4
  /** Timed passes per run at least, so each run reports a true median. */
  val MinPasses = 3

  private final case class Outcome(rows: Long, hash: Long, schema: Option[StructType], kept: Option[Array[Row]])

  private final case class Span(
      id: Long, parent: Long, op: Int, pass: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty
  )

  def main(args: Array[String]): Unit = {
    val a        = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val input    = a("input")
    val work     = Path.of(a("work"))
    val seconds  = a("seconds").toDouble
    val traced   = a("trace") == "1"
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0         = System.nanoTime()
    val baseMs     = System.currentTimeMillis()
    def nsOfEpochMs(ms: Long): Long = t0 + (ms - baseMs) * 1000000L

    val mainS   = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val startS0 = System.nanoTime()
    val spark   = session(work)
    val startS  = (System.nanoTime() - startS0) / 1e9
    val sc      = spark.sparkContext
    val jobs    = new JobProbe
    val qes     = new QeProbe
    sc.addSparkListener(jobs)
    spark.listenerManager.register(qes)

    val wl: Workload = workload match {
      case "mapreduce_text"  => new RegistryWorkload(RegistryWorkload.Text, input)
      case "graph_iterative" => new RegistryWorkload(RegistryWorkload.Graph, input)
      case "table_rw"        => new TableWorkload(input, work)
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def cleanup(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    // ---------------------------------------------------------------- one op
    val spans  = mutable.ArrayBuffer.empty[Span]
    var nextId = 0L
    def newId(): Long = { nextId += 1; nextId }

    def hashRows(rows: Array[Row]): Long =
      rows.foldLeft(0L) { (h, r) =>
        val s = r.toString
        h + ((MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(s, 0xbeef).toLong & 0xffffffffL))
      }

    /** Runs one op; returns (wall s, outcome or error). Traced: records the
      * op span, its phase spans and one span per Spark job.
      */
    def runOp(op: OpSpec, pass: Int, trace: Boolean, keep: Boolean): (Double, Either[String, Outcome]) = {
      val opId   = newId()
      val phases = mutable.ArrayBuffer.empty[Span]
      val before = if (trace) op.table.map(TableWorkload.footprint) else None
      val scope  = if (trace) op.scope.map(_()) else None
      def phase[T](name: String)(body: => T): T = {
        val id = newId()
        if (trace) sc.setLocalProperty(JobProbe.SpanKey, id.toString)
        val s = System.nanoTime()
        try body
        finally {
          phases += Span(id, opId, op.id, pass, name, s, System.nanoTime())
          if (trace) sc.setLocalProperty(JobProbe.SpanKey, opId.toString)
        }
      }
      if (trace) { sc.setLocalProperty(JobProbe.SpanKey, opId.toString); jobs.on = true; qes.on = true }
      val s0 = System.nanoTime()
      val res: Either[String, Outcome] =
        try {
          def collected(build: String, f: () => DataFrame): Outcome = {
            val df = phase(build)(f())
            phase("plans")(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan)
            val rows = phase("exec.action")(df.collect())
            Outcome(rows.length.toLong, hashRows(rows), Some(df.schema), if (keep) Some(rows) else None)
          }
          Right(op.act match {
            case Query(f) => collected("operators.build", f)
            case Read(f)  => collected("sources.read", f)
            case Count(f) =>
              val n = phase("sources.read")(f())
              Outcome(1L, n, None, None)
            case Write(f) =>
              phase("sources.commit")(f())
              Outcome(0L, 0L, None, None)
          })
        } catch {
          case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val s1   = System.nanoTime()
      val wall = (s1 - s0) / 1e9
      if (trace) {
        BusShim.drain(sc)
        jobs.on = false; qes.on = false
        sc.setLocalProperty(JobProbe.SpanKey, null)
        val (js, stages, started) = jobs.take()
        val qrecs                 = qes.take()
        val storage               = sc.getRDDStorageInfo
        val after                 = op.table.map(TableWorkload.footprint)
        val fw = for (b <- before; x <- after) yield Map(
          "files_written" -> (x._1 - b._1).max(0L),
          "write_bytes"   -> (x._2 - b._2).max(0L),
          "log_versions"  -> (x._3 - b._3)
        )
        val filesRead = qrecs.map(_.filesRead).sum
        val attrs = Map[String, Any](
          "kind"              -> op.act.getClass.getSimpleName.toLowerCase,
          "ok"                -> res.isRight,
          "jobs_started"      -> started,
          "materialize_rdds"  -> sc.getPersistentRDDs.size,
          "materialize_bytes" -> storage.map(r => r.memSize + r.diskSize).sum,
          "analysis_s"        -> qrecs.map(_.analysisMs).sum / 1e3,
          "optimization_s"    -> qrecs.map(_.optimizationMs).sum / 1e3,
          "planning_s"        -> qrecs.map(_.planningMs).sum / 1e3,
          "files_read"        -> filesRead
        ) ++ fw.getOrElse(Map.empty) ++ scope.map(n => Map("files_in_scope" -> n)).getOrElse(Map.empty)
        spans += Span(opId, 0L, op.id, pass, s"op:${op.name}", s0, s1, attrs)
        spans ++= phases
        js.foreach { j =>
          val st = j.stageIds.flatMap(stages.get).filter(_.completed)
          spans += Span(
            newId(), Option(j.span).map(_.toLong).getOrElse(-1L), op.id, pass, "job",
            nsOfEpochMs(j.startMs), nsOfEpochMs(if (j.endMs > 0) j.endMs else j.startMs),
            Map(
              "job_id"             -> j.id,
              "stages"             -> st.size,
              "single_task_stages" -> st.count(_.tasks == 1),
              "tasks"              -> st.map(_.tasks).sum,
              "task_run_s"         -> st.map(_.runMs).sum / 1e3,
              "task_cpu_s"         -> st.map(_.cpuNs).sum / 1e9,
              "gc_s"               -> st.map(_.gcMs).sum / 1e3,
              "shuffle_write_bytes" -> st.map(_.shufBytes).sum,
              "shuffle_records"    -> st.map(_.shufRecords).sum,
              "spill_bytes"        -> st.map(_.spillBytes).sum,
              "peak_task_mem_bytes" -> (0L +: st.map(_.peakMem)).max,
              "scan_s"             -> st.map(_.scanNs).sum / 1e9
            )
          )
        }
      }
      cleanup()
      (wall, res)
    }

    // --------------------------------------------------------------- set-up
    wl.standing(spark)
    val standingS = (System.nanoTime() - startS0) / 1e9 - startS
    // a cold first pass (on the workload's small warm-up input, if it has
    // one), then two warm-up passes: pass times keep falling for several
    // passes while the JIT compiles. The first warm-up pass's results are
    // the reference every later pass must reproduce.
    val prime0 = System.nanoTime()
    wl.prime(spark).foreach(op => runOp(op, -1, trace = false, keep = false))
    val primeS = (System.nanoTime() - prime0) / 1e9
    val warm = wl.pass(spark, 0).map { op =>
      val (w, r) = runOp(op, 0, trace = false, keep = true)
      (op, w, r)
    }
    val expected = warm.map { case (op, _, r) => op.id -> r.map(o => (o.rows, o.hash)) }.toMap

    def runPass(p: Int, tracePass: Boolean): Map[String, Any] = {
      val st0 = Harness.stealTicks(); val cpu0 = Harness.processCpuNs()
      val recs = wl.pass(spark, p).map { op =>
        val (wall, r) = runOp(op, p, tracePass, keep = false)
        val err = (r, expected(op.id)) match {
          case (Left(e), _)                                            => Some(e)
          case (Right(o), Right((n, h))) if o.rows != n || o.hash != h => Some(s"result differs from warm-up (${o.rows} vs $n rows)")
          case (Right(_), Left(e))                                     => Some(s"warm-up failed: $e")
          case _                                                       => None
        }
        Map[String, Any]("id" -> op.id, "name" -> op.name, "kind" -> op.act.getClass.getSimpleName.toLowerCase,
          "wall_s" -> wall) ++ err.map(e => Map("error" -> e)).getOrElse(Map.empty)
      }
      val stored = wl.storedDirs.map(d => TableWorkload.footprint(d)._2).sum
      System.gc()
      Map("pass" -> p, "traced" -> tracePass, "wall_s" -> recs.map(_("wall_s").asInstanceOf[Double]).sum,
        "steal_s" -> (Harness.stealTicks() - st0) / 100.0, "cpu_s" -> (Harness.processCpuNs() - cpu0) / 1e9,
        "stored_bytes" -> stored, "ops" -> recs)
    }
    val warm2  = runPass(1, tracePass = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val outDir = work.resolve("outputs")
    TableWorkload.deleteTree(outDir)
    for ((op, _, Right(o)) <- warm; schema <- o.schema; rows <- o.kept)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(outDir.resolve(s"op-${op.id}").toString)
    System.gc()

    // ------------------------------------------------------------ measuring
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val m0     = System.nanoTime()
    var p      = 2
    while (passes.size < MinPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      passes += runPass(p, tracePass = traced && p % 2 == 1)
      p += 1
    }

    val hwmKb = Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    if (traced) {
      val w = Files.newBufferedWriter(work.resolve("spans.jsonl"))
      try spans.foreach { s =>
        w.write(mapper.writeValueAsString(Map(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass, "name" -> s.name,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9, "attrs" -> s.attrs
        )))
        w.newLine()
      }
      finally w.close()
    }
    val result = Map(
      "workload"   -> workload,
      "cores"      -> Cores,
      "setup_s"    -> setupS,
      "session_start_s" -> startS,
      "main_s"     -> mainS,
      "peak_rss_mb" -> hwmKb / 1024.0,
      "standing_s" -> standingS,
      "prime_s"    -> primeS,
      "warmup" -> warm.map { case (op, w, r) =>
        Map("id" -> op.id, "name" -> op.name, "kind" -> op.act.getClass.getSimpleName.toLowerCase, "wall_s" -> w) ++
          (r match {
            case Right(o) => Map("rows" -> o.rows, "value" -> o.hash, "output" -> o.schema.map(_ => s"op-${op.id}"))
            case Left(e)  => Map("error" -> e)
          })
      },
      "oracle_sql" -> wl.oracleSql,
      "warmup_pass" -> warm2,
      "passes"     -> passes
    )
    Files.writeString(Path.of(a("out")), mapper.writeValueAsString(result))
    spark.stop()
  }

  def stealTicks(): Long =
    Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+")(8).toLong

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The engine's own session factory, with every path the session writes
    * kept under the run's work directory.
    */
  def session(work: Path): SparkSession = {
    val spark = GraftSession
      .builder(s"local[$Cores]", math.max(Cores, 8))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)
  }
}
