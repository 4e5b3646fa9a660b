package perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One run: session start, inputs, first touch and an untimed warm pass
  * (together `setup_s`), then timed passes over the same ops for at
  * least `--seconds` and at least the workload's `minPasses` passes.
  * One driver thread issues one op at a time: a closed loop with one
  * client. A traced run adds one pass with the
  * engine probe and the span tracer on, and reports per-layer metrics.
  */
object Runner {

  /** The engine's cross-query memos; cleared before every pass so each
    * pass starts cold.
    */
  def clearMemos(): Unit = {
    graft.llm.Dedup.clearTextClustersCache()
    graft.llm.Dedup.clearArithCandCache()
    graft.llm.Sim.clearNearPairsCache()
    graft.llm.Sim.clearPqCodebookCache()
    graft.zonal.Polygonize.clearCache()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  /** Engine counters recorded per op in traced passes. */
  val OpCounters = Seq("jobs", "tasks", "input_bytes", "ext_actions", "plans_actions")

  def runOp(ctx: Ctx, op: Op, pass: Int): OpResult = {
    val before = ctx.probe.map(p => OpCounters.map(k => k -> p.counter(k)).toMap)
    val t0 = System.nanoTime()
    val out =
      try Right(ctx.tracer.withOp(s"$pass:${op.id}")(op.run()))
      catch { case NonFatal(e) => Left(describe(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val counters = (for (b <- before; p <- ctx.probe)
      yield b.map { case (k, v) => k -> (p.counter(k) - v).toDouble }).getOrElse(Map.empty)
    val err = out.fold(Some(_), check =>
      try check(pass == 0) catch { case NonFatal(e) => Some(describe(e)) })
    OpResult(op, secs, err, pass, counters)
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def pass(ctx: Ctx, ops: Seq[Op], n: Int): Seq[OpResult] = {
    clearMemos()
    val (g0, c0) = (gcSeconds(), cpuSeconds())
    val rs = ops.map(runOp(ctx, _, n))
    println(f"[perfbench] pass $n: ${wall(rs)}%.2f s, gc ${gcSeconds() - g0}%.2f s, " +
      f"process cpu ${cpuSeconds() - c0}%.1f s")
    rs
  }

  private def wall(rs: Seq[OpResult]): Double = rs.map(_.seconds).sum

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(a: Args): Unit = {
    if (a.record.nonEmpty) { QueryMix.record(a); return }
    val wl = Main.Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${a.workload}' (have ${Main.Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val t0 = System.nanoTime()
    val spark = Main.session(a)
    val ctx = new Ctx(spark, a)
    val ts = System.nanoTime()
    val ops = wl.setup(ctx)
    val tw = System.nanoTime()
    val warm = pass(ctx, ops, 0)
    val setupS = (System.nanoTime() - t0) / 1e9
    val warmS = (System.nanoTime() - tw) / 1e9
    println(f"[perfbench] setup: session ${(ts - t0) / 1e9}%.1f s, inputs ${(tw - ts) / 1e9}%.1f s, " +
      f"warm pass $warmS%.1f s")

    val start = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[OpResult]]
    while (passes.size < wl.minPasses || (System.nanoTime() - start) / 1e9 < a.seconds)
      passes += pass(ctx, ops, passes.size + 1)
    val timed = passes.toSeq.flatten
    val passWall = Stats.median(passes.toSeq.map(wall))

    val (metrics, tracedOps) =
      if (a.trace) traced(ctx, wl, ops, passWall, warmS)
      else {
        // an op's latency is its median over the passes
        val lat = timed.groupBy(_.op.id).values.map(rs => Stats.median(rs.map(_.seconds))).toSeq
        val (tq, tv) = Stats.tail(lat)
        println(f"[perfbench] op_p90_s reports p${tq * 100}%.0f of ${lat.size} ops")
        (Seq(
          ("setup_s", setupS, "s", 1),
          ("wall_s", passWall, "s", passes.size),
          ("op_p50_s", Stats.median(lat), "s", lat.size),
          ("op_p90_s", tv, "s", lat.size),
          ("peak_rss_mb", vmHwmMb(), "MB", 1)), Nil)
      }
    val all = warm ++ timed ++ tracedOps
    val failed = all.filter(_.error.nonEmpty)
    failed.take(20).foreach(r => println(s"[perfbench] FAILED pass ${r.pass} ${r.op.id}: ${r.error.get}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "ops.tsv"),
      all.map(r => s"${r.pass}\t${r.op.id}\t${r.seconds}\t${r.error.getOrElse("")}\n").mkString)

    val info = wl.summary(timed) :+
      (("error_rate", failed.size.toDouble / all.size, "ratio", all.size))
    (if (a.trace) info else metrics ++ info).foreach { case (n, v, u, k) =>
      println(s"[perfbench] ${a.workload} $n = ${Json.num(v)} $u (n=$k)")
    }
    spark.stop()
    val ms = metrics.map { case (n, v, u, _) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed.isEmpty}, "attempted": ${all.size}, "failed": ${failed.size}, "metrics": $ms}""")
  }

  /** The traced pass: per-layer metrics and the pass's op results. */
  private def traced(ctx: Ctx, wl: Workload, ops: Seq[Op], untracedWall: Double,
      warmS: Double): (Seq[(String, Double, String, Int)], Seq[OpResult]) = {
    val probe = new EngineProbe(ctx.spark)
    probe.start()
    ctx.probe = Some(probe)
    ctx.tracer = new Tracer(true)
    ctx.counts.clear()
    val before = probe.snapshot()
    val rs = pass(ctx, ops, -1)
    val d = EngineProbe.delta(before, probe.snapshot())
    val tracedWall = wall(rs)
    val n = rs.size.toDouble
    val cpus = ctx.spark.sparkContext.defaultParallelism
    def byModule(m: String) = rs.filter(_.op.module == m).map(_.seconds).sum
    def flagged(k: String) = rs.filter(_.counters.getOrElse(k, 0.0) > 0).map(_.seconds).sum
    val spans = ctx.tracer.secondsByName
    val common = Map(
      "engine.analysis_s" -> d.getOrElse("analysis_ms", 0.0) / 1e3 / n,
      "engine.optimization_s" -> d.getOrElse("optimization_ms", 0.0) / 1e3 / n,
      "engine.planning_s" -> d.getOrElse("planning_ms", 0.0) / 1e3 / n,
      "engine.codegen_compile_s" -> d("codegen_ms") / 1e3 / n,
      "engine.codegen_classes" -> d.getOrElse("codegen_classes", 0.0) / n,
      "engine.jobs_per_op" -> d.getOrElse("jobs", 0.0) / n,
      "engine.stages" -> d.getOrElse("stages", 0.0) / n,
      "engine.tasks" -> d.getOrElse("tasks", 0.0) / n,
      "core.build_s" -> spans.getOrElse("core.build", 0.0) / n,
      "core.build_jobs" -> ctx.counts.getOrElse("build_jobs", 0.0) / n,
      "rel.op_s" -> byModule("rel"),
      "zonal.op_s" -> byModule("zonal"),
      "llm.op_s" -> byModule("llm"),
      "stream.op_s" -> byModule("stream"),
      "ext.op_s" -> flagged("ext_actions"),
      "plans.op_s" -> flagged("plans_actions"),
      "engine.task_run_s" -> d.getOrElse("task_run_ms", 0.0) / 1e3,
      "engine.task_cpu_s" -> d.getOrElse("task_cpu_ns", 0.0) / 1e9,
      "engine.gc_s" -> d.getOrElse("gc_ms", 0.0) / 1e3,
      "engine.busy_ratio" -> d.getOrElse("task_run_ms", 0.0) / 1e3 / (tracedWall * cpus),
      "engine.shuffle_write_bytes" -> d.getOrElse("shuffle_write_bytes", 0.0),
      "engine.shuffle_read_bytes" -> d.getOrElse("shuffle_read_bytes", 0.0),
      "engine.shuffle_fetch_wait_s" -> d.getOrElse("shuffle_fetch_wait_ms", 0.0) / 1e3,
      "engine.spill_bytes" -> d.getOrElse("spill_bytes", 0.0),
      "engine.input_bytes" -> d.getOrElse("input_bytes", 0.0),
      "engine.output_bytes" -> d.getOrElse("output_bytes", 0.0),
      "stream.batches" -> d.getOrElse("stream_batches", 0.0),
      "stream.state_commit_s" -> d.getOrElse("stream_state_commit_ms", 0.0) / 1e3,
      "stream.trigger_s" -> d.getOrElse("stream_trigger_ms", 0.0) / 1e3,
      "engine.warm_pass_s" -> warmS,
      "trace.overhead_ratio" -> tracedWall / untracedWall)
    val layers = wl.layers(ctx, rs)
    probe.stop()
    ctx.probe = None
    val path = java.nio.file.Paths.get(ctx.args.work, "trace",
      s"${ctx.args.workload}-${ctx.args.seed}.jsonl")
    ctx.tracer.write(path)
    java.nio.file.Files.writeString(path.resolveSibling(s"${ctx.args.workload}-${ctx.args.seed}-ops.jsonl"),
      rs.map { r =>
        val cs = r.counters.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
        s"""{"op":${Json.str(r.op.id)},"module":${Json.str(r.op.module)},"seconds":${Json.num(r.seconds)},$cs}"""
      }.mkString("", "\n", "\n"))
    println(s"[perfbench] wrote ${ctx.tracer.spans.size} spans to $path")
    ctx.tracer.selfSecondsByName.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      println(f"[perfbench] self time $k%-24s $v%.3f s")
    }
    val values = common ++ layers
    (Metrics.PerLayer.map { case (name, unit) => (name, values.getOrElse(name, 0.0), unit, rs.size) }, rs)
  }
}
