package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.harness.{AlertRegistry, RunClock}

/** A failed operation: where, and the exception class and message that
  * say why. */
final case class Failure(op: String, cls: String, message: String)

object Failure {
  def apply(op: String, e: Throwable): Failure =
    Failure(op, e.getClass.getName, String.valueOf(e.getMessage))
}

/** A wrong output found by a check. */
final class WrongOutput(msg: String) extends Exception(msg)

/** Benchmark driver JVM: runs one workload with one closed-loop client
  * (the next operation starts when the previous one has finished) and
  * writes the run record to `<out>/result.json`.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <dir> --out <dir> --cores <n> --copies <n>
  *
  * Set-up (inputs, fixtures, warm-up, the checked pass) is untimed.
  * Timed passes then repeat until `seconds` of timed work is done. With
  * tracing on, the listeners are attached for every timed pass, so a
  * traced run does the same work as an untraced one: its `trace.wall_s`
  * minus the untraced runs' `wall_s` is the tracing overhead. */
object Main {
  /** One query per operator module: operators/Graph (iterative,
    * localCheckpoint barriers), operators/Dedup, streaming/CrawlStream
    * and streaming/EventStream. */
  val CorpusCrawl: Seq[String] = Seq("q147_hits", "q33_minhash_lsh_pairs",
    "q184_crawl_loop", "q47_stream_hourly")

  /** Every detector's sigla and every family table runAll writes. */
  private val probeClock = RunClock(java.time.LocalDateTime.of(2026, 8, 12, 0, 0))
  val Siglas: Seq[String] = (AlertRegistry.enabled(probeClock, "s") ++
    AlertRegistry.disabled(probeClock)).map(_._1.sigla).distinct
  val FamilyTables: Seq[String] = AlertsWorkload.Tables

  private val TimedLine = """\[timed\] (alert|write) (\S+): ([0-9.]+) s""".r

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val budgetSecs = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    val cores = opt("cores").toInt
    Files.createDirectories(out)

    val spark = graft.core.GraftSession.build("graft-perfbench", cores)
    val rec = new Recorder(spark)
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    def failed(f: Failure): Unit =
      failures += Map("op" -> f.op, "class" -> f.cls, "message" -> f.message)

    val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val w: Workload = workload match {
      case "corpus_crawl" =>
        new RegistryWorkload(spark, CorpusCrawl, opt("data"), out.resolve("check"), seed, failed)
      case "alerts_nightly" =>
        new AlertsWorkload(spark, opt("copies").toInt, warehouse, seed, failed)
    }
    w.setup()
    val checkFailures = failures.size
    val timedStartMs = System.currentTimeMillis()

    final case class Done(name: String, pass: Int, secs: Double, ok: Boolean)
    val done = mutable.ArrayBuffer.empty[Done]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val harness = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var outputFiles = 0L
    var pass = 0
    if (trace) rec.attach()
    while (passWall.sum < budgetSecs || passWall.isEmpty) {
      var passSecs = 0.0
      var passCpuSecs = 0.0
      w.ops(pass).foreach { op =>
        val log = new ByteArrayOutputStream()
        val t0Ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val cpu0 = processCpuSecs()
        val result = try Right(rec.scoped(s"p$pass:${op.name}") {
          Console.withOut(new PrintStream(log, true))(op.run())
        }) catch { case e: Throwable => Left(e) }
        val t1 = System.nanoTime()
        w.hygiene()
        passSecs += (System.nanoTime() - t0) / 1e9
        passCpuSecs += processCpuSecs() - cpu0
        if (trace) {
          rec.settle()
          outputFiles += filesSince(warehouse, t0Ms)
        }
        val error = result.fold(Some(_), rows => w.check(op, rows).map(new WrongOutput(_)))
        error.foreach(e => failed(Failure(s"p$pass:${op.name}", e)))
        TimedLine.findAllMatchIn(log.toString)
          .foreach(m => harness(s"${m.group(1)}.${m.group(2)}") += m.group(3).toDouble)
        done += Done(op.name, pass, (t1 - t0) / 1e9, error.isEmpty)
      }
      passWall += passSecs
      passCpu += passCpuSecs
      pass += 1
    }
    if (trace) rec.detach()
    val calib = graft.Bench.calibrate()

    val opSecs = done.filter(_.ok).map(_.secs).toSeq
    val e2e = Map(
      "wall_s" -> median(passWall.toSeq),
      "op_p50_s" -> median(opSecs),
      "cpu_s" -> median(passCpu.toSeq))

    val layers: Map[String, Any] = if (!trace) Map.empty else {
      val n = passWall.size.toDouble
      def per(key: String): Double = rec.total(key) / n
      val counters = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "sched.jobs", "sched.stages", "sched.tasks",
        "sched.barrier_jobs", "sched.task_launch_wait_ms", "exec.run_ms", "exec.cpu_ms",
        "exec.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
        "mem.spill_bytes", "io.output_bytes", "streaming.triggers", "streaming.addBatch_ms",
        "streaming.queryPlanning_ms", "streaming.walCommit_ms", "streaming.latestOffset_ms",
        "streaming.state_rows", "fail.tasks_failed", "fail.stages_retried")
      counters.map(k => k -> per(k)).toMap ++ Map(
        "sched.useful_task_frac" ->
          (if (per("sched.tasks") == 0) 0.0 else per("sched.useful_tasks") / per("sched.tasks")),
        "mem.peak_exec_bytes" -> rec.peak("mem.peak_exec_bytes"),
        "mem.peak_rss_mb" -> peakRssMb(),
        "streaming.state_mem_bytes" -> rec.peak("streaming.state_mem_bytes"),
        "io.output_files" -> outputFiles / n,
        "harness.spine_s" -> rec.jobSeconds("ActiveDocs.scala") / n,
        "harness.detect_s" -> Siglas.map(s => harness(s"alert.$s")).sum / n,
        "harness.finalize_s" -> FamilyTables.map(t => harness(s"write.$t")).sum / n,
        "trace.wall_s" -> median(passWall.toSeq)) ++
        Siglas.map(s => s"harness.alert.${s}_s" -> harness(s"alert.$s") / n) ++
        FamilyTables.map(t => s"harness.write.${t}_s" -> harness(s"write.$t") / n) ++
        CorpusCrawl.map(q => s"query.${q}_s" -> done.filter(_.name == q).map(_.secs).sum / n)
    }
    if (trace) rec.dump(out.resolve("spans.jsonl"))

    val rt = Runtime.getRuntime
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "nproc" -> rt.availableProcessors(),
      "cores" -> cores, "heap_mb" -> rt.maxMemory() / (1024 * 1024), "calib_s" -> calib,
      "timed_start_epoch_ms" -> timedStartMs, "passes" -> passWall,
      "ops" -> done.map(d => Map("name" -> d.name, "pass" -> d.pass, "secs" -> d.secs,
        "ok" -> d.ok)),
      "attempted" -> (done.size + w.checkedInSetup), "check_failures" -> checkFailures,
      "failures" -> failures, "end_to_end" -> e2e,
      "op_samples" -> opSecs.size, "per_layer" -> layers, "inputs" -> w.record)
    Files.writeString(out.resolve("result.json"), record)
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(0)
  }

  /** Data files (not hidden or marker files) modified since `sinceMs`. */
  private def filesSince(root: Path, sinceMs: Long): Long = {
    if (!Files.exists(root)) return 0L
    val walk = Files.walk(root)
    try walk.iterator().asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
        Files.getLastModifiedTime(p).toMillis >= sinceMs
    }.toLong
    finally walk.close()
  }

  /** CPU seconds this JVM has used, all threads (JIT and GC included). */
  private def processCpuSecs(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
}
