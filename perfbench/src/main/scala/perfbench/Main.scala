package perfbench

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, ref: String, record: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      need("work"), need("ref"), kv.get("record"))
  }
}

/** Everything a workload needs: the session, its own input directory,
  * the arguments (seed) and the tracer and probe of the current pass.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val inputDir: String = s"${args.work}/inputs"
  var tracer = new Tracer(false)
  var probe: Option[EngineProbe] = None
  /** Counts ops add up during a traced pass (e.g. jobs inside builders). */
  val counts = scala.collection.mutable.Map.empty[String, Double]
  def count(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One closed-loop operation. `run` is the timed work; it returns the
  * output check, which runs after the clock stops and returns `None` when
  * the output matches the reference, else a description of the mismatch.
  * The check's argument is true on the warm pass only: there it may run
  * actions of its own, which would count towards no timing or engine
  * counter.
  */
final case class Op(id: String, kind: String, module: String, run: () => Boolean => Option[String])

trait Workload {
  def name: String
  /** Timed passes per run, at least: with three, one pass disturbed by
    * other load on the machine moves neither the median pass nor any
    * op's median latency.
    */
  def minPasses: Int = 3
  /** Input generation and fixture first-touch; returns the op list. */
  def setup(ctx: Ctx): Seq[Op]
  /** Per-layer figures of this workload, measured with the engine probe
    * running (traced runs only). `timed` holds the traced pass's ops.
    */
  def layers(ctx: Ctx, timed: Seq[OpResult]): Map[String, Double]
  /** Workload-specific end-to-end figures `(name, value, unit, samples)`,
    * printed beside the contract metrics.
    */
  def summary(timed: Seq[OpResult]): Seq[(String, Double, String, Int)] = Nil
}

/** `counters` holds per-op engine deltas (traced passes only). */
final case class OpResult(op: Op, seconds: Double, error: Option[String], pass: Int,
    counters: Map[String, Double] = Map.empty)

object Main {
  val Workloads: Map[String, Workload] =
    Seq(QueryMix, ZonalCube).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val code =
      try { Runner.run(Args.parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
