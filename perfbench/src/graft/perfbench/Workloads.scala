package graft.perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.annotations.Annotations
import graft.cli.Main
import graft.export.{JsonExport, JsonWriter}
import graft.hardware.HardwareReport
import graft.operators.UserActivityFull
import graft.sources.DeviceMap
import graft.useractivity.{CountryList, UserActivity}

/** One operation of a workload's pass; `family` names the layer it is
  * reported under. */
final case class Op(name: String, family: String)

trait Workload {
  def ops: Seq[Op]

  /** Derived inputs, built once during set-up. */
  def prepare(): Unit = ()

  /** First run of `op` in the session; records its reference output. */
  def warmUp(op: Op): Unit

  /** The timed part of one operation. */
  def execute(op: Op, pass: Int, tracer: Tracer): Unit

  /** Untimed: compares the output of the last `execute` with the
    * reference. None when it matches. */
  def check(op: Op, pass: Int): Option[String]

  /** Bytes of persistent output the last `execute` left, and the files. */
  def written(op: Op, pass: Int): (Long, Long) = (0L, 0L)
}

object FileTree {
  def tree(dir: File): Seq[File] =
    if (!dir.exists) Seq.empty
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(tree)

  def bytes(dir: File): Long = tree(dir).map(_.length).sum

  def delete(dir: File): Unit = {
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.foreach(delete)
    dir.delete()
  }
}

/** Catalog queries from `SparkEntry.queries`, each consumed through
  * [[Digest]]. The warm-up collects each result once and writes it as
  * parquet (checked against the DuckDB oracle after the run); its digest
  * is the reference every timed run must reproduce. */
final class CatalogWorkload(spark: SparkSession, input: String, work: String, val ops: Seq[Op])
    extends Workload {
  private val fns = SparkEntry.queries
  private val expected = mutable.Map[String, String]()
  private var last = ""

  def warmUp(op: Op): Unit = {
    val df = fns(op.name)(spark, input)
    val rows = spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    spark.catalog.clearCache()
    rows.coalesce(1).write.parquet(s"$work/ref/${op.name}")
    expected(op.name) = Digest.of(rows)
  }

  def execute(op: Op, pass: Int, tracer: Tracer): Unit = {
    val df = tracer.span("operators.construct") { fns(op.name)(spark, input) }
    if (tracer.active)
      df.queryExecution.tracker.phases.get("analysis").foreach { p =>
        tracer.plans.addConstructAnalysis(p.durationMs)
      }
    last = tracer.span("operators.execute") { Digest.of(df) }
  }

  def check(op: Op, pass: Int): Option[String] = {
    // some queries cache intermediates; a later run must recompute them
    spark.catalog.clearCache()
    if (last == expected(op.name)) None
    else Some(s"digest $last, expected ${expected(op.name)}")
  }
}

/** The reference's weekly jobs. `hardware_report` and `annotations` run
  * through `graft.cli.Main`, each pass into a fresh output directory, and
  * every JSON artifact must equal the warm-up's byte for byte; an artifact
  * that differs is copied, with the warm-up's, to `mismatchDir`.
  * `user_activity_rows` runs the `user_activity` job's pipeline and its two
  * export row sets (`UserActivity.build`, `JsonExport.fxhealthRows` and
  * `webusageRows`) and consumes them through [[Digest]], which must equal
  * the warm-up's: the job's JSON bytes cannot be compared between runs,
  * because it writes countries in the collect order of a `groupBy`. The
  * warm-up also runs the whole `user_activity` job through `Main`; its
  * artifacts, like the other jobs', are checked against independent
  * computations after the run. Traced passes call the jobs' modules in the
  * order `Main` does, with a span around each call. */
final class WeeklyWorkload(
    spark: SparkSession,
    input: String,
    hardwareInput: String,
    work: String,
    mismatchDir: String,
    val hwDateFrom: String,
    val hwPastWeeks: Int
) extends Workload {
  val archiveDate = "2020-07-06"
  val annotationsDateTo = "2020-06-29"
  val countries: Seq[String] = UserActivityFull.uaCountries
  private val uaIn = s"$work/weekly-in"

  val ops: Seq[Op] = Seq(
    Op("hardware_report", "cli"),
    Op("user_activity_rows", "useractivity"),
    Op("annotations", "cli")
  )

  /** `clients_last_seen`, `country_names` and `buildhub` synthesized from
    * the generated orders, customers and nations the way the
    * `ua_full_pipeline` catalog query does, so its DuckDB oracle checks
    * the `user_activity` artifacts. */
  override def prepare(): Unit = {
    UserActivityFull.synthClients(spark, input).write.parquet(s"$uaIn/clients_last_seen")
    UserActivityFull.synthCountryNames(spark, input).write.parquet(s"$uaIn/country_names")
    UserActivityFull.synthBuildhub(spark, input).write.parquet(s"$uaIn/buildhub")
  }

  private def outDir(op: Op, pass: Int): String =
    if (pass < 0) s"$work/out/warm/${op.name}" else s"$work/out/pass-$pass/${op.name}"

  private def opts(op: Op, out: String): Map[String, String] = {
    val common = Map("output" -> out, "archive_date" -> archiveDate)
    common ++ (op.name match {
      case "hardware_report" =>
        Map("input" -> hardwareInput, "date_from" -> hwDateFrom, "past_weeks" -> hwPastWeeks.toString)
      case "user_activity_rows" =>
        Map(
          "clients" -> s"$uaIn/clients_last_seen",
          "country_names" -> s"$uaIn/country_names",
          "buildhub" -> s"$uaIn/buildhub",
          "countries" -> countries.mkString(",")
        )
      case "annotations" =>
        Map("buildhub" -> s"$uaIn/buildhub", "date_to" -> annotationsDateTo)
    })
  }

  private def cli(op: Op, out: String): Unit = op.name match {
    case "hardware_report" => Main.hardwareReport(spark, opts(op, out))
    case "user_activity_rows" => Main.userActivity(spark, opts(op, out))
    case "annotations" => Main.annotations(spark, opts(op, out))
  }

  private var expectedRows, lastRows = ""

  def warmUp(op: Op): Unit = {
    cli(op, outDir(op, -1))
    if (op.name == "user_activity_rows") expectedRows = userActivityRows(new Tracer(spark))
  }

  def execute(op: Op, pass: Int, tracer: Tracer): Unit = {
    val out = outDir(op, pass)
    op.name match {
      case "user_activity_rows" => lastRows = userActivityRows(tracer)
      case _ if !tracer.active => cli(op, out)
      case "hardware_report" => hardwareLayers(out, tracer)
      case "annotations" => annotationsLayers(out, tracer)
    }
  }

  private def artifact(out: String, name: String, json: String, tracer: Tracer): Unit =
    tracer.span("export.json") {
      JsonExport.writeArtifact(out, name, json, archiveDate, dryRun = false)
    }

  private def hardwareLayers(out: String, tracer: Tracer): Unit = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val in = spark.read.parquet(hardwareInput)
    val dateFrom = java.time.LocalDate.parse(hwDateFrom)
    val deviceMap = DeviceMap.toLookup(DeviceMap.load(spark))
    (0 to hwPastWeeks).foreach { w =>
      val from = dateFrom.minusWeeks(w.toLong)
      tracer.span("hardware.run_week") {
        HardwareReport
          .runWeek(in, deviceMap, java.sql.Date.valueOf(from), java.sql.Date.valueOf(from.plusDays(7)))
          .write
          .mode("overwrite")
          .partitionBy("date_from")
          .parquet(s"$out/hardware_aggregates")
      }
    }
    val readback = spark.read.parquet(s"$out/hardware_aggregates").orderBy("date_from")
    val flat = tracer.span("hardware.flatten") { HardwareReport.flatten(readback).collect() }
    val byDate = flat
      .groupBy(_.getString(0))
      .toSeq
      .sortBy(_._1)(Ordering[String].reverse)
      .map { case (date, rows) =>
        ListMap((rows.map(r => r.getString(1) -> (r.getDouble(2): Any)) :+ ("date" -> (date: Any))): _*)
      }
    artifact(out, "hwsurvey-weekly.json", JsonWriter.write(byDate), tracer)
  }

  /** `Main.userActivity` up to the collect of its two artifacts' rows,
    * which are digested instead. */
  private def userActivityRows(tracer: Tracer): String = {
    val result = tracer.span("useractivity.build") {
      UserActivity.build(
        spark.read.parquet(s"$uaIn/clients_last_seen"),
        spark.read.parquet(s"$uaIn/country_names"),
        spark.read.parquet(s"$uaIn/buildhub"),
        UserActivity.Config(countries = countries)
      )
    }
    val exported = result.filter(col("country_name").isin(countries: _*)).cache()
    try
      Seq(JsonExport.fxhealthRows(exported), JsonExport.webusageRows(exported))
        .map(df => tracer.span("export.rows") { Digest.of(df) })
        .mkString(" ")
    finally exported.unpersist()
  }

  private def shape(entries: Seq[(String, Map[String, String])]): Any =
    entries.map { case (date, ann) => ListMap("annotation" -> (ann: Any), "date" -> (date: Any)) }

  private def annotationsLayers(out: String, tracer: Tracer): Unit = {
    val all = CountryList.userActivityCountryList
    val fx = tracer.span("annotations.version_days") {
      val vd = Annotations.versionReleaseDays(
        spark,
        spark.read.parquet(s"$uaIn/buildhub"),
        java.sql.Date.valueOf(annotationsDateTo)
      )
      Annotations.fxhealthAnnotations(vd, all)
    }
    val keys = all.filter(fx.contains) ++ (fx.keySet -- all).toSeq.sorted
    artifact(
      out,
      "annotations_fxhealth.json",
      JsonWriter.write(ListMap(keys.map(k => k -> shape(fx(k))): _*), indent = 2),
      tracer
    )
    val static = Main.loadStaticAnnotations(spark, "/graft/static/annotations_webusage.json")
    val merged = Annotations.usageAnnotations(static, all)
    artifact(
      out,
      "annotations_webusage.json",
      JsonWriter.write(merged.map { case (c, e) => c -> shape(e) }, indent = 2, sortKeys = true),
      tracer
    )
    artifact(
      out,
      "annotations_hardware.json",
      DeviceMap.readResourceText("/graft/static/annotations_hardware.json"),
      tracer
    )
  }

  private def jsons(dir: String): Map[String, File] =
    FileTree.tree(new File(dir)).filter(_.getName.endsWith(".json")).map(f => f.getName -> f).toMap

  def check(op: Op, pass: Int): Option[String] =
    if (op.name == "user_activity_rows")
      if (lastRows == expectedRows) None else Some(s"digests $lastRows, expected $expectedRows")
    else checkArtifacts(op, pass)

  private def checkArtifacts(op: Op, pass: Int): Option[String] = {
    val got = jsons(outDir(op, pass))
    val want = jsons(outDir(op, -1))
    if (got.keySet != want.keySet)
      Some(s"artifacts ${got.keySet.toSeq.sorted.mkString(",")}, expected ${want.keySet.toSeq.sorted.mkString(",")}")
    else
      want.toSeq.sortBy(_._1).flatMap { case (name, f) =>
        val (a, b) = (Files.readAllBytes(f.toPath), Files.readAllBytes(got(name).toPath))
        if (java.util.Arrays.equals(a, b)) None
        else {
          // kept for inspection: the pass directory is removed after the check
          val keep = new File(mismatchDir)
          keep.mkdirs()
          Files.write(new File(keep, s"warm-$name").toPath, a)
          Files.write(new File(keep, s"pass$pass-$name").toPath, b)
          Some(s"$name differs from the warm-up artifact")
        }
      }.headOption
  }

  override def written(op: Op, pass: Int): (Long, Long) = {
    val files = FileTree.tree(new File(outDir(op, pass)))
    val out = (files.map(_.length).sum, files.size.toLong)
    FileTree.delete(new File(outDir(op, pass)))
    out
  }

  /** Bytes of input the job reads. */
  def inputBytes(op: Op): Long = op.name match {
    case "hardware_report" => FileTree.bytes(new File(hardwareInput))
    case "user_activity_rows" =>
      Seq("clients_last_seen", "country_names", "buildhub").map(t => FileTree.bytes(new File(s"$uaIn/$t"))).sum
    case "annotations" => FileTree.bytes(new File(s"$uaIn/buildhub"))
  }
}
