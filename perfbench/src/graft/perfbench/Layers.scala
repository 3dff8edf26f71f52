package graft.perfbench

import scala.collection.immutable.ListMap
import graft.perfbench.BenchMain.{OpSample, Pass, WarmUp}

/** Per-layer metrics of a traced run. Pass-level figures are medians over
  * passes of the traced runs in each pass; `trace.overhead_ratio` is the
  * median ratio of an operation's traced to its untraced time in the same
  * pass. Metrics of layers a workload does not run are left out. */
object Layers {

  def apply(
      wl: Workload,
      cores: Int,
      warm: Seq[WarmUp],
      storeBytes: Long,
      storeBuilds: Int,
      setupCodegenSeconds: Double,
      setupCodegenClasses: Long,
      passes: Seq[Pass],
      samples: Seq[OpSample],
      tracer: Tracer,
      written: Map[String, (Long, Long)]
  ): ListMap[String, Any] = {
    def perPass(f: Pass => Double): Double = Stats.median(passes.map(f))
    def tasks(f: TaskTotals => Double): Double = perPass(p => f(p.totals.get._1))
    def plans(f: PlanTotals => Double): Double = perPass(p => f(p.totals.get._2))
    val mb = 1048576.0

    val spans = tracer.spans.toSeq
    def dur(s: Span) = (s.end - s.start) / 1e9
    val jobsBySpan: Map[Int, Long] = passes.flatMap(_.totals.get._1.jobsBySpan).toMap
    val spanIds = spans.indices.groupBy(i => spans(i).name)
    def ofName(name: String): Seq[Int] = spanIds.getOrElse(name, Seq.empty)
    def familyOf(i: Int): String = samples(spans(i).op).op.family

    val common = ListMap[String, Any](
      "catalyst.analysis_s" -> plans(_.analysisMs / 1e3),
      "catalyst.optimization_s" -> plans(_.optimizationMs / 1e3),
      "catalyst.planning_s" -> plans(_.planningMs / 1e3),
      "catalyst.exchanges" -> plans(_.exchanges.toDouble),
      "catalyst.broadcasts" -> plans(_.broadcasts.toDouble),
      "codegen.compile_s" -> JvmCounters.codegenNanos / 1e9,
      "codegen.classes" -> JvmCounters.codegenClasses.toDouble,
      "codegen.setup_compile_s" -> setupCodegenSeconds,
      "codegen.setup_classes" -> setupCodegenClasses.toDouble,
      "spark.jobs" -> tasks(_.jobs.toDouble),
      "spark.stages" -> tasks(_.stages.toDouble),
      "spark.tasks" -> tasks(_.tasks.toDouble),
      "spark.failed_tasks" -> tasks(_.failedTasks.toDouble),
      "spark.task_s" -> tasks(_.taskMs / 1e3),
      "spark.task_cpu_s" -> tasks(_.cpuNs / 1e9),
      "spark.scheduler_delay_s" -> tasks(_.schedDelayMs / 1e3),
      "spark.core_busy_ratio" -> perPass(p => p.totals.get._1.runMs / 1e3 / (p.tracedWall * cores)),
      "spark.shuffle_write_mb" -> tasks(_.shuffleWrite / mb),
      "spark.shuffle_read_mb" -> tasks(_.shuffleRead / mb),
      "spark.spill_mb" -> tasks(_.spill / mb),
      "spark.input_mb" -> tasks(_.input / mb),
      "spark.stage_skew" -> {
        val skews = passes.flatMap(_.totals.get._1.stageSkews)
        if (skews.isEmpty) 1.0 else Stats.median(skews)
      },
      "jvm.gc_s" -> perPass(_.tracedGcSeconds),
      "jvm.gc_count" -> perPass(_.tracedGcCount.toDouble),
      "trace.overhead_ratio" -> Stats.median(
        samples.groupBy(s => (s.pass, s.op)).values.toSeq.collect {
          case Seq(a, b) => if (a.traced) a.seconds / b.seconds else b.seconds / a.seconds
        }
      ),
      "store.build_s" -> warm.filter(_.stores > 0).map(_.seconds).sum,
      "store.bytes" -> storeBytes.toDouble,
      "store.builds" -> storeBuilds.toDouble
    )

    // operators: per family, median per operation over the traced passes
    val operators = ofName("operators.construct").groupBy(familyOf).toSeq.sortBy(_._1).flatMap {
      case (family, construct) =>
        val execute = ofName("operators.execute").filter(familyOf(_) == family)
        Seq(
          s"operators.$family.construct_s" -> Stats.median(construct.map(i => dur(spans(i)))),
          s"operators.$family.construct_jobs" ->
            construct.map(i => jobsBySpan.getOrElse(i, 0L)).sum.toDouble / construct.size,
          s"operators.$family.execute_s" -> Stats.median(execute.map(i => dur(spans(i))))
        )
    }

    // weekly jobs: cli latency from the untraced passes, module calls from
    // the traced ones (summed per operation, median over operations)
    val weekly: Seq[(String, Any)] = wl match {
      case w: WeeklyWorkload =>
        def perOp(name: String): Double = {
          val byOp = ofName(name).groupBy(i => spans(i).op).values.map(_.map(i => dur(spans(i))).sum)
          if (byOp.isEmpty) 0.0 else Stats.median(byOp.toSeq)
        }
        def perTracedPass(name: String): Double =
          ofName(name).map(i => dur(spans(i))).sum / passes.size
        val cli = w.ops.filter(_.family == "cli").map { op =>
          s"cli.${op.name}_s" -> Stats.median(samples.filter(s => s.op == op && !s.traced).map(_.seconds))
        }
        val build = ofName("useractivity.build")
        // each op ran twice per pass: once untraced, once traced
        val passCount = passes.size * 2.0
        val bytes = written.values.map(_._1).sum / passCount
        val inBytes = w.ops.map(w.inputBytes).sum.toDouble
        cli ++ Seq(
          "hardware.run_week_s" -> perOp("hardware.run_week"),
          "hardware.flatten_s" -> perOp("hardware.flatten"),
          "useractivity.build_s" -> perOp("useractivity.build"),
          "useractivity.build_jobs" -> build.map(i => jobsBySpan.getOrElse(i, 0L)).sum.toDouble / build.size,
          "annotations.version_days_s" -> perOp("annotations.version_days"),
          "export.json_s" -> perTracedPass("export.json"),
          "export.rows_s" -> perTracedPass("export.rows"),
          "export.bytes_written" -> bytes,
          "export.files_written" -> written.values.map(_._2).sum / passCount,
          "bytes_written_per_input_byte" -> bytes / inBytes
        )
      case _ => Seq.empty
    }

    val warmup = warm.map(w => s"setup.warmup.${w.op.name}_s" -> w.seconds)
    common ++ operators ++ weekly ++ warmup
  }
}
