package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.{AlertRegistry, RunClock}

/** One timed operation: `run` returns the result's row count. */
final case class Op(name: String, run: () => Long)

/** A workload: untimed set-up (inputs, warm-up, the checked pass), then
  * passes of operations in a seed-chosen order. */
trait Workload {
  /** Build inputs and fixtures; warm up and run the checked pass where
    * the workload has one. */
  def setup(): Unit
  /** The operations of timed pass `pass`. */
  def ops(pass: Int): Seq[Op]
  /** Untimed invariant check after an operation; Some(message) on a
    * wrong output. */
  def check(op: Op, rows: Long): Option[String]
  /** Operations run and checked during set-up. */
  def checkedInSetup: Int
  /** Cleanup between operations, timed with the pass. */
  def hygiene(): Unit
  /** Facts about the inputs and checks, for the run record. */
  def record: Map[String, Any]
}

/** Registry queries run by name over one input directory and fully
  * evaluated through a `noop` write. The checked pass dumps every
  * result as `Verify` does, for the oracle comparison; timed passes
  * must reproduce its row counts. */
final class RegistryWorkload(spark: SparkSession, names: Seq[String], dataDir: String,
                             checkDir: Path, seed: Long, failed: Failure => Unit)
  extends Workload {
  private val expected = mutable.Map.empty[String, Long]
  private def fn(name: String) = graft.SparkEntry.queries(name)

  def setup(): Unit = {
    Files.createDirectories(checkDir)
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      graft.Verify.oracleJson(graft.SparkEntry.oracleSql, names.toSet))
    new Random(seed).shuffle(names).foreach { name =>
      val dest = checkDir.resolve(name)
      if (graft.Verify.dumpOne(spark, checkDir.toString, name, fn(name), dataDir))
        expected(name) = spark.read.parquet(dest.toString).count()
      else {
        // Verify's crash marker: "<name> failed: <class>: <message>"
        val error = scala.util.Try(Files.readString(dest.resolve("_ERROR.txt")).trim)
          .getOrElse("").stripPrefix(s"$name failed: ").split(": ", 2)
        failed(Failure(s"check:$name", error(0), error.lift(1).getOrElse("")))
      }
      spark.catalog.clearCache()
    }
  }

  def ops(pass: Int): Seq[Op] =
    new Random(seed * 1000003L + pass).shuffle(names).map { name =>
      Op(name, () => {
        val obs = Observation(s"rows_$pass")
        fn(name)(spark, dataDir).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long]
      })
    }

  def check(op: Op, rows: Long): Option[String] = expected.get(op.name) match {
    case Some(n) if n == rows => None
    case Some(n) => Some(s"row count $rows differs from the checked pass's $n")
    case None => Some("the checked pass produced no output")
  }

  def checkedInSetup: Int = names.size

  def hygiene(): Unit = spark.catalog.clearCache()

  def record: Map[String, Any] = Map("queries" -> names.size, "check_rows" -> expected.toMap)
}

/** The nightly alert batch: `AlertRegistry.runAll` (all 20 detectors,
  * the ActiveDocs spine, temp -> final -> month-partitioned history)
  * over `copies` key-shifted copies of the DomainFixtures world, into
  * one schema and one month of history.
  *
  * Set-up runs a seed-chosen day, which creates the month's history and
  * warms the JVM. Each timed pass re-runs that day: every family table
  * then takes the history read-modify-write (stage the month's other
  * days plus today's rows, overwrite the month), and the day's rows
  * must be replaced, not duplicated. After every run-day (untimed) the
  * benchmark checks that the alert rows are linear in copies, that each
  * final table equals its day's history partition, and that history
  * holds the day exactly once. */
final class AlertsWorkload(spark: SparkSession, copies: Int, warehouse: Path, seed: Long,
                           failed: Failure => Unit)
  extends Workload {
  import AlertsWorkload._

  /** The run-day; the fixture world's clock is 2026-08-12. */
  private val day = Days(new Random(seed).nextInt(Days.size))
  private val clock = RunClock(LocalDateTime.of(2026, 8, day, 3, 0))
  private val schema = "nightly"
  val expectedRows: Long = RowsPerCopy * copies + SharedRows

  private def runDay(): Long = {
    AlertRegistry.runAll(spark, schema, clock, includeDisabled = true)
    0L
  }

  def setup(): Unit = {
    graft.tools.HarnessScale.scaleWorld(spark, copies)
    spark.sql(s"CREATE DATABASE $schema LOCATION '${warehouse.resolve(schema).toUri}'")
    val op = s"setup:day_$day"
    try { runDay(); checkDay().foreach(m => failed(Failure(op, new WrongOutput(m)))) }
    catch { case e: Throwable => failed(Failure(op, e)) }
    hygiene()
  }

  def checkedInSetup: Int = 1

  def ops(pass: Int): Seq[Op] = Seq(Op(s"rerun_day_$day", () => runDay()))

  def check(op: Op, unused: Long): Option[String] = checkDay()

  private def checkDay(): Option[String] = {
    val finals = Tables.map { t =>
      val fin = spark.table(s"$schema.$t")
      val month = spark.table(s"$schema.hist_$t")
        .filter(col("dt_partition") === clock.dtPartition)
        .select((fin.columns :+ "dt_calculo").map(col).toSeq: _*).collect()
      (t, fin.collect().map(_.toSeq).toSeq, month)
    }
    val rows = finals.map(_._2.size).sum
    if (rows != expectedRows)
      return Some(s"alert rows $rows != $RowsPerCopy x $copies + $SharedRows")
    finals.collectFirst {
      case (t, fin, month) if sorted(fin) != sorted(month.toSeq
          .filter(r => r.getString(r.length - 1) == clock.dtCalculo).map(_.toSeq.init)) =>
        s"$t differs from its history partition ${clock.dtCalculo}"
      case (t, fin, month) if month.length != fin.size =>
        s"hist_$t holds ${month.length} rows for one run-day of ${fin.size}"
    }
  }

  private def sorted(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("\u0001")).sorted

  def hygiene(): Unit = spark.catalog.clearCache()

  def record: Map[String, Any] = Map("copies" -> copies, "run_day" -> day,
    "alert_rows_per_day" -> expectedRows)
}

object AlertsWorkload {
  /** Family tables written by runAll. */
  val Tables: Seq[String] = Seq(AlertRegistry.MgpTable, AlertRegistry.RoTable,
    AlertRegistry.Abr1Table, AlertRegistry.CompTable, AlertRegistry.IspsTable)
  /** Alert rows per fixture copy, and rows from the shared (unshifted)
    * dimension tables, on the fixture world (HarnessScale's canary). */
  val RowsPerCopy = 19L
  val SharedRows = 5L
  /** August 2026 days on which every planted alert fires as on the
    * fixture clock; the seed picks one. */
  val Days: List[Int] = (10 to 14).toList
}
