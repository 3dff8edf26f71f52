package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.export.JsonWriter
import graft.functions.GraftFunctions

/** Benchmark process: one workload, one SparkSession, one client running
  * one operation at a time.
  *
  *   --workload weekly_report|corpus_dedup  --seed N
  *   --seconds S  --trace 0|1  --input DIR  --work DIR  --cores N
  *   --shuffle N  --out FILE
  *   [--hw-input P --hw-date-from D --hw-past-weeks N --mismatch-dir DIR]
  *
  * Set-up (session, function registration, derived inputs, a reference
  * run of every operation, which also builds the persisted stores) is
  * followed by whole passes over the operation list, in a seed-shuffled
  * order: one pass per [[nominalPassSeconds]] of `seconds`, at least two.
  * A fixed pass count, not a deadline, keeps every run at the same point
  * of the JIT's warm-up, which still shortens each pass by a few percent
  * after set-up. With `--trace 1` each operation also runs traced. The
  * result, per-operation samples and spans go to `--out` as JSON.
  */
object BenchMain {

  val corpusOps: Seq[Op] = Seq(
    "TextOps" -> "t54_containment_dedup",
    "TextOps" -> "t75_embed_decontaminate",
    "MultimodalOps" -> "m7c_semantic_dedup_ivf",
    "MultimodalOps" -> "m7b_semantic_dedup_banded",
    "VectorOps" -> "v10_ann_ivf_quantized"
  ).map { case (f, n) => Op(n, f) }

  /** About one pass of either workload on 4 cores. */
  val nominalPassSeconds = 5.0

  final case class OpSample(pass: Int, op: Op, traced: Boolean, seconds: Double, error: Option[String])

  /** The reference run of `op` in set-up; `stores` counts the warehouse
    * directories it created. */
  final case class WarmUp(op: Op, seconds: Double, stores: Int, error: Option[String])

  /** `wall` sums the untraced operations, `tracedWall` the traced ones. */
  final case class Pass(
      wall: Double,
      cpu: Double,
      gcSeconds: Double,
      liveHeapMb: Option[Double],
      tracedWall: Double,
      tracedGcSeconds: Double,
      tracedGcCount: Long,
      totals: Option[(TaskTotals, PlanTotals)]
  )

  private def storeDirs(warehouse: File): Set[String] =
    Option(warehouse.listFiles).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val warehouse = new File(s"$work/warehouse")

    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", a("shuffle"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      System.err.println(f"perfbench: $name at ${(System.currentTimeMillis - jvmStart) / 1e3}%.1fs after JVM start")
    phase("session ready")

    val wl: Workload = workload match {
      case "corpus_dedup" => new CatalogWorkload(spark, a("input"), work, corpusOps)
      case "weekly_report" =>
        new WeeklyWorkload(
          spark, a("input"), a("hw-input"), work, a("mismatch-dir"), a("hw-date-from"), a("hw-past-weeks").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tracer = new Tracer(spark)

    // ---- set-up: derived inputs, then a reference run of every operation
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), graft.Verify.oracleJson)
    wl.prepare()
    phase("inputs prepared")
    val warm = wl.ops.map { op =>
      val before = storeDirs(warehouse)
      val t0 = System.nanoTime
      val err =
        try { wl.warmUp(op); None }
        catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      WarmUp(op, (System.nanoTime - t0) / 1e9, (storeDirs(warehouse) -- before).size, err)
    }
    phase("warm-up done")
    val storeBytes = FileTree.bytes(warehouse)
    val setupCodegenSeconds = JvmCounters.codegenNanos / 1e9
    val setupCodegenClasses = JvmCounters.codegenClasses

    // ---- timed passes. A traced run runs every operation twice per pass,
    // untraced and traced, in alternating order, so each traced sample has
    // an untraced twin to measure the tracing overhead against.
    val samples = mutable.ArrayBuffer[OpSample]()
    val passes = mutable.ArrayBuffer[Pass]()
    val written = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    var storeBuilds = 0
    HeapAfterGc.install()
    val firstOpEpochMs = System.currentTimeMillis
    val passCount = math.max(2, math.round(seconds / nominalPassSeconds).toInt)
    var p = 0
    while (p < passCount) {
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(wl.ops)
      val totals = if (traced) Some(tracer.newTotals()) else None
      var (wall, tracedWall, tracedGcMs, tracedGcN) = (0.0, 0.0, 0L, 0L)
      val cpu0 = JvmCounters.cpuNanos
      val gcMs0 = JvmCounters.gcMillis
      order.zipWithIndex.foreach { case (op, i) =>
        val modes = if (!traced) Seq(false) else if ((p + i) % 2 == 0) Seq(false, true) else Seq(true, false)
        modes.foreach { tracedRun =>
          val before = storeDirs(warehouse)
          tracer.op = samples.size
          if (tracedRun) tracer.begin()
          val (gcMs, gcN) = (JvmCounters.gcMillis, JvmCounters.gcCount)
          val t0 = System.nanoTime
          val err =
            try { tracer.span(s"op.${op.name}") { wl.execute(op, p, tracer) }; None }
            catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
          val dt = (System.nanoTime - t0) / 1e9
          if (tracedRun) {
            tracer.end()
            tracedWall += dt
            tracedGcMs += JvmCounters.gcMillis - gcMs
            tracedGcN += JvmCounters.gcCount - gcN
          } else wall += dt
          val bad = err.orElse(wl.check(op, p))
          val (bytes, files) = wl.written(op, p)
          written(op.name) = (written(op.name)._1 + bytes, written(op.name)._2 + files)
          storeBuilds += (storeDirs(warehouse) -- before).size
          samples += OpSample(p, op, tracedRun, dt, bad)
        }
      }
      val cpu = (JvmCounters.cpuNanos - cpu0) / 1e9
      val gcS = (JvmCounters.gcMillis - gcMs0) / 1e3
      val heap = HeapAfterGc.takePeak().map(_ / 1048576.0)
      passes += Pass(wall, cpu, gcS, heap, tracedWall, tracedGcMs / 1e3, tracedGcN, totals)
      p += 1
    }

    // ---- report
    val plainSamples = samples.filterNot(_.traced).map(_.seconds).toSeq
    val endToEnd = obj(
      // totals over the passes, not medians: the JIT is still compiling in
      // the first passes, and when it does varies between runs while the total
      // work does not
      "run_s" -> passes.map(_.wall).sum,
      "op_p50_s" -> Stats.median(plainSamples),
      "op_tail_s" -> Stats.percentile(plainSamples, 0.9),
      "cpu_s" -> passes.map(_.cpu).sum,
      "live_heap_mb" -> {
        val heaps = passes.flatMap(_.liveHeapMb).toSeq
        require(heaps.nonEmpty, "no garbage collection during the timed passes")
        Stats.median(heaps)
      }
    )
    lazy val layers = Layers(
      wl, cores, warm, storeBytes, storeBuilds, setupCodegenSeconds, setupCodegenClasses,
      passes.toSeq, samples.toSeq, tracer, written.toMap
    )
    val result = obj(
      "workload" -> workload,
      "seed" -> seed,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "end_to_end" -> endToEnd,
      "layers" -> (if (traced) layers else obj()),
      "warmup_errors" -> warm.flatMap(w => w.error.map(e => obj("op" -> w.op.name, "error" -> e))).toList,
      "ops" -> samples.map { s =>
        obj("pass" -> s.pass.toLong, "op" -> s.op.name, "family" -> s.op.family, "seconds" -> s.seconds,
          "traced" -> s.traced, "error" -> s.error.orNull)
      }.toList,
      "passes" -> passes.map { ps =>
        obj("wall_s" -> ps.wall, "traced_wall_s" -> ps.tracedWall, "cpu_s" -> ps.cpu,
          "gc_s" -> ps.gcSeconds, "live_heap_mb" -> ps.liveHeapMb.getOrElse(null))
      }.toList,
      "spans" -> tracer.spans.map { s =>
        obj("name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent.toLong,
          "op" -> s.op.toLong)
      }.toList
    )
    Files.writeString(Paths.get(a("out")), JsonWriter.write(result, indent = 1))
    spark.stop()
  }

  /** A JSON object for [[JsonWriter]], keys in the given order. */
  private def obj(kv: (String, Any)*) = scala.collection.immutable.ListMap(kv: _*)
}
