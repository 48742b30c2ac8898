package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators

/** `registry_cold`: a fresh session over tables generated from the seed.
  * A fixed sample of `SparkEntry.queries`, stratified by operator family,
  * runs once each in sorted order (the cold pass: stage builds are paid
  * lazily by their first consumer, so moving work into a stage build cannot
  * pass as a gain); the warm loop then repeats the sample, one query call
  * per timed operation.
  *
  * Each call consumes the query's frame with an order-insensitive digest
  * (row count and a hash of the rows) rather than the noop sink, so every
  * warm call's output is compared with the cold call's without executing
  * the query twice.
  */
final class RegistryWorkload(env: Env, sizes: TableGen.Sizes) extends Workload {
  import RegistryWorkload._

  private val Env(spark, root, seed, checks, cores) = env
  private val data = root.resolve("tables").toString
  private val queries = Families.flatMap(_._2).toMap

  def generate(): Unit = TableGen.writeAll(spark, seed, sizes, root.resolve("tables"))

  def coldPass: Seq[Call] = Sample.map { case (q, f) => Call(q, f, () => digest(queries(q)(spark, data))) }
  def nextWarm(): Seq[Call] = coldPass

  private val coldDigests = scala.collection.mutable.Map.empty[String, (Long, BigDecimal)]

  def check(call: Call, result: Any): (Long, Long) = {
    val d = result.asInstanceOf[(Long, BigDecimal)]
    coldDigests.get(call.name) match {
      case None    => coldDigests(call.name) = d
      case Some(c) => checks.expect(c == d, s"${call.name}: warm output $d differs from cold $c")
    }
    (1L, 0L)
  }

  def finish(traced: Boolean): Unit = ()

  /** Bytes the session stages hold in the block manager (memory + disk).
    * Blocks of frames nobody references any more are dropped first: the
    * context cleaner removes them only after a GC, so without one the figure
    * would depend on GC timing.
    */
  def storedBytes(): Long = {
    def held = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    System.gc()
    var (last, now) = (-1L, held)
    for (_ <- 1 to 20 if now != last) {
      Thread.sleep(250)
      last = now
      now = held
    }
    now
  }

  /** A query returns a lazy frame, so the jobs that execute its plan are
    * issued by the benchmark's digest, not by program code. They belong to
    * the call's family by design and are counted as sink jobs
    * (`registry.sink_jobs_cold`); any other job needs a program frame.
    */
  def attributed(call: Call, job: Job): Boolean = job.attribution.entry.isDefined || isSink(job)

  def layers(calls: Seq[(Timed, Seq[Job])], all: Seq[Timed]): Map[String, Double] = {
    val cold = calls.filter(_._1.cold)
    val coldJobs = cold.flatMap(_._2)
    val coldWall = cold.map(_._1.wallS).sum
    val warm = all.filterNot(_.cold)
    val perFamily = Sample.map(_._2).flatMap { f =>
      val c = cold.filter(_._1.call.group == f)
      val warmByQuery = warm.filter(_.call.group == f).groupBy(_.call.name).values
      Seq(
        s"registry.$f.cold_s" -> c.map(_._1.wallS).sum,
        s"registry.$f.warm_s" -> warmByQuery.map(ts => Stats.median(ts.map(_.wallS))).sum
      )
    }
    val interval = (j: Job) => (j.start, j.end)
    perFamily.toMap ++ Map(
      "registry.jobs_cold" -> coldJobs.size.toDouble,
      "registry.sink_jobs_cold" -> coldJobs.count(isSink).toDouble,
      "registry.stage_build_s" -> cold.map(c => Stats.unionLength(c._2.filter(_.attribution.stageBuild).map(interval))).sum / 1e3,
      "registry.driver_s" -> cold.map { case (t, js) => Workload.driverS(t, js) }.sum,
      "registry.cpu_util" -> (if (coldWall > 0) coldJobs.map(_.cpuNs).sum / 1e9 / (coldWall * cores) else 0.0)
    )
  }

  override def details: Map[String, Any] = Map(
    "sample" -> Sample.map(_._1),
    "registry_size" -> queries.size
  )
}

object RegistryWorkload {

  /** The 18 operator families of `SparkEntry.queries`, by object. */
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> operators.Relational.queries,
    "Analytic" -> operators.Analytic.queries,
    "Temporal" -> operators.Temporal.queries,
    "TextOps" -> operators.TextOps.queries,
    "Dedup" -> operators.Dedup.queries,
    "Similarity" -> operators.Similarity.queries,
    "Multimodal" -> operators.Multimodal.queries,
    "SqlFrontend" -> operators.SqlFrontend.queries,
    "Skew" -> operators.Skew.queries,
    "RangeOps" -> operators.RangeOps.queries,
    "Sampling" -> operators.Sampling.queries,
    "Curation" -> operators.Curation.queries,
    "TrainExport" -> operators.TrainExport.queries,
    "Privacy" -> operators.Privacy.queries,
    "BloomPrune" -> operators.BloomPrune.queries,
    "Retrieval" -> operators.Retrieval.queries,
    "Cartography" -> operators.Cartography.queries,
    "Importance" -> operators.Importance.queries
  )

  val SampledFamilies = 4

  /** One query from each of the four largest families (55 % of the
    * registry), drawn once with a fixed draw, in sorted order. The seed
    * varies the tables, not the sample: per-query cold costs differ by more
    * than 10x within a family, so a seed-drawn sample would move `cold_s` by
    * more than its bound between seeds.
    */
  val Sample: Seq[(String, String)] = {
    val rnd = new scala.util.Random(0L)
    Families.sortBy { case (f, qs) => (-qs.size, f) }.take(SampledFamilies).map { case (f, qs) =>
      rnd.shuffle(qs.keys.toSeq.sorted).head -> f
    }.sortBy(_._1)
  }

  /** A job the digest issued, with no program frame on its stack. */
  def isSink(job: Job): Boolean =
    job.attribution.entry.isEmpty && job.attribution.bench.contains("RegistryWorkload.digest")

  /** Row count and an order-insensitive hash of a frame's rows, with
    * floating-point values rounded to seven significant digits.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def rounded(c: Column): Column = format_string("%.6e", c.cast("double") + 0.0)
    val cols = d.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case FloatType | DoubleType                     => rounded(c)
        case ArrayType(FloatType | DoubleType, _)       => concat_ws(",", transform(c, x => rounded(x)))
        case _: StructType | _: ArrayType | _: MapType => to_json(c)
        case _                                          => c.cast("string")
      }
    }
    val r = d
      .select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
