package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.core.Q

/** `query_mix`: a stratified sample of the operator registry on the
  * generated sf0.001 tables. At this size the data is negligible, so an
  * op's time is the engine's per-query fixed cost.
  */
object QueryMix extends Workload {
  val name = "query_mix"

  /** The JIT is still compiling through the first timed passes (process
    * CPU per pass falls by a third over ten passes), so single passes
    * differ by up to 30%. In five ten-pass runs, medians over the first
    * four passes instead of the first three narrowed the spread between
    * runs of `op_p90_s` from 0.19 to 0.12 and of `wall_s` from 0.19 to
    * 0.15; a fifth pass would narrow them further but does not fit the
    * run budget on a loaded machine.
    */
  override val minPasses = 4

  /** The connected-components fixpoint entries (`llm.fixpoint_op_s`). */
  private val Fixpoints = Set("dedup_cluster", "dedup_text_cluster", "pipeline_dedup_keep_best")

  def family(id: String): String = id.takeWhile(_ != '_')

  /** The first entry of each family (id prefix before the first `_`)
    * in registry order: 30 of the 498 entries. The set is fixed so that
    * the spread between seeds measures the engine, not which queries were
    * drawn. The seed rotates the id-sorted list: it changes where the
    * pass starts but keeps neighbouring queries together, since a
    * shuffled order alone moved the pass time by about 10%.
    */
  def sample(ids: Seq[String], seed: Long): Seq[String] = {
    val firsts = ids.distinctBy(family).sorted
    val k = Math.floorMod(new java.util.Random(seed).nextInt(), firsts.size)
    firsts.drop(k) ++ firsts.take(k)
  }

  /** Registry id → the module whose `defs` lists it. */
  lazy val owner: Map[String, String] = {
    import graft._
    val groups = Seq(
      "rel" -> Seq(rel.Scans.defs, rel.FilterProject.defs, rel.Joins.defs, rel.Aggregates.defs,
        rel.SortSet.defs, rel.Windows.defs, rel.Functions.defs, rel.Udfs.defs),
      "zonal" -> Seq(zonal.Zonal.defs, zonal.Raster.defs, zonal.Align.defs, zonal.Polygonize.defs,
        zonal.Zarr.defs, zonal.Netcdf.defs, zonal.Hdf5.defs, zonal.Reproject.defs, zonal.Utm.defs,
        zonal.GridMapping.defs, zonal.Helmert.defs),
      "llm" -> Seq(llm.Text.defs, llm.Dedup.defs, llm.Sim.defs, llm.Multimodal.defs),
      "stream" -> Seq(stream.Streams.defs))
    (for ((m, ds) <- groups; d <- ds; (id, _) <- d) yield id -> m).toMap
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus an order-insensitive hash of the rows (the sum of
    * per-row hashes; map columns, which `xxhash64` refuses, hash as text).
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    if (df.columns.isEmpty) return (df.count(), "0")
    val cols = df.schema.fields.indices.map { i =>
      val c = col(s"c$i")
      if (hasMap(df.schema.fields(i).dataType)) c.cast("string") else c
    }
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  final case class Ref(count: Long, hash: Option[String])

  def loadRefs(path: String): Map[String, Ref] =
    scala.io.Source.fromFile(path).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map { case Array(id, n, h) =>
        id -> Ref(n.toLong, if (h == "-") None else Some(h))
      }.toMap

  def tablesDir(ctx: Ctx): String = s"${ctx.inputDir}/sf0.001"

  def setup(ctx: Ctx): Seq[Op] = {
    val dir = tablesDir(ctx)
    ctx.span("input.tables")(TableGen.write(ctx.spark, dir))
    // first touch: resolve every table (footers read, no job)
    graft.core.Tables.names.foreach(t => graft.core.Tables.load(ctx.spark, dir, t).schema)
    val refs = loadRefs(s"${ctx.args.ref}/query_mix_sf0.001.tsv")
    val reg = SparkEntry.registry.toMap
    sample(SparkEntry.registry.map(_._1), ctx.args.seed).map { id =>
      val q: Q = reg(id)
      val ref = refs.getOrElse(id, throw new IllegalStateException(s"no reference for $id"))
      // the op is build + count(); every pass checks the row count, and
      // the warm pass also the row hash of oracle entries (the others are
      // outside the determinism contract), in an action of its own
      Op(id, "query", owner(id), () => {
        val j0 = ctx.probe.map(_.counter("jobs"))
        val df = ctx.span("core.build")(q.build(ctx.spark, dir))
        for (j <- j0; p <- ctx.probe) ctx.count("build_jobs", (p.counter("jobs") - j).toDouble)
        val n = ctx.span("engine.action")(df.count())
        full => {
          val h = if (full) ref.hash.map(_ => fingerprint(df)._2) else ref.hash
          if ((n, h) == (ref.count, ref.hash)) None
          else Some(s"(rows, hash) = ($n, $h), reference (${ref.count}, ${ref.hash})")
        }
      })
    }
  }

  /** The connected-components fixpoint entries, run once each with cold
    * memos: their mean time and jobs per op.
    */
  def layers(ctx: Ctx, timed: Seq[OpResult]): Map[String, Double] = {
    val reg = SparkEntry.registry.toMap
    val runs = Fixpoints.toSeq.sorted.map { id =>
      Runner.clearMemos()
      val j0 = ctx.probe.get.counter("jobs")
      val t0 = System.nanoTime()
      reg(id).build(ctx.spark, tablesDir(ctx)).count()
      ((System.nanoTime() - t0) / 1e9, (ctx.probe.get.counter("jobs") - j0).toDouble)
    }
    Map("llm.fixpoint_op_s" -> runs.map(_._1).sum / runs.size,
      "llm.jobs_per_op" -> runs.map(_._2).sum / runs.size)
  }

  /** `--record <file>`: fingerprint every registry entry on the generated
    * tables. Entries without oracle SQL are outside the determinism
    * contract of `graft.core.Q`, so only their row count is stored.
    */
  def record(a: Args): Unit = {
    val spark = Main.session(a)
    val dir = s"${a.work}/inputs/sf0.001"
    TableGen.write(spark, dir)
    val out = new StringBuilder("# id\trows\thash (- = row count only)\n")
    var failures = 0
    SparkEntry.registry.foreach { case (id, q) =>
      Runner.clearMemos()
      try {
        val n = q.build(spark, dir).count()
        val h = if (q.oracle.isDefined) fingerprint(q.build(spark, dir))._2 else "-"
        out.append(s"$id\t$n\t$h\n")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[record] $id failed: $e")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.record.get), out.toString)
    println(s"[record] ${SparkEntry.registry.size - failures} entries, $failures failed")
    spark.stop()
  }
}
