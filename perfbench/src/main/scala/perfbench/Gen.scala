package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input is a pure function of the seed:
  * plans are drawn on the driver from `Gen.random(seed)`, row values from
  * `xxhash64(seed, salt, id)`, so neither depends on partitioning.
  */
object Gen {

  /** A driver-side generator for the seed. The seed is mixed first: the
    * first draws of `java.util.Random` for neighbouring seeds are nearly
    * equal.
    */
  def random(seed: Long): scala.util.Random = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  /** Uniform [0, 1) per row, keyed by the seed, a salt and the row's keys. */
  def unit(seed: Long, salt: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000000007L)).cast("double") / 1000000007.0

  /** Integer in [lo, hi] per row. */
  def between(seed: Long, salt: String, lo: Long, hi: Long, keys: Column*): Column =
    (lit(lo) + floor(unit(seed, salt, keys: _*) * (hi - lo + 1))).cast("long")

  /** Run independent writes concurrently and wait for all of them. */
  def parallel(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(writes.map(w => Future(w()))), scala.concurrent.duration.Duration.Inf)
  }

  /** Write `df` as one parquet file per distinct value of `fileCol`, each
    * named by that value, into `dir` -- in one job, not one job per file.
    */
  def writeFilePerKey(df: DataFrame, fileCol: String, sortCols: Seq[String], dir: Path, drop: Seq[String] = Nil): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".gen")
    Files.createDirectories(dir)
    df.repartition(col(fileCol))
      .sortWithinPartitions((fileCol +: sortCols).map(col): _*)
      .drop(drop: _*)
      .write
      .mode("overwrite")
      .partitionBy(fileCol)
      .parquet(tmp.toString)
    Files.list(tmp).iterator().asScala.toSeq.filter(Files.isDirectory(_)).foreach { sub =>
      val name = sub.getFileName.toString.stripPrefix(s"$fileCol=")
      val parts = Files.list(sub).iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"expected one part file for $name, got ${parts.size}")
      Files.move(parts.head, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    Fs.delete(tmp)
  }
}

/** The ad-event drop the ETL reads: impressions and clicks parquet files in
  * the reference's naming scheme, whose names carry the event hour.
  */
final case class EventFile(name: String, kind: String, date: String, hour: Int, matching: Int, other: Int) {
  def routable: Boolean = kind == "impressions" || kind == "clicks"
}

final case class EtlPlan(files: Seq[EventFile]) {
  def routable: Seq[EventFile] = files.filter(_.routable)
  def dates: Seq[String] = routable.map(_.date).distinct.sorted
  def events: Long = files.map(f => f.matching.toLong + f.other).sum

  /** The expected report for a date: 24 rows of (hour, impressions, clicks). */
  def report(date: String): Seq[(Int, Long, Long)] = {
    val fs = routable.filter(_.date == date)
    def count(kind: String, h: Int) = fs.filter(f => f.kind == kind && f.hour == h).map(_.matching.toLong).sum
    (0 until 24).map(h => (h, count("impressions", h), count("clicks", h)))
  }

  /** Hours whose clicks exceed impressions (quarantined, yet loaded). */
  def excessHours(date: String): Set[Int] = report(date).collect { case (h, i, c) if c > i => h }.toSet
}

object EtlGen {

  val UserAgent = "some user agent"

  /** Draw the files of one delivery.
    *
    * Each (date, hour, kind) gets `filesPerHour` files of about
    * `eventsPerFile` events, `otherShare` of them from another user agent;
    * one (date, hour, kind) in twenty has no file, so its count is zero.
    * Click volume is drawn independently of impressions, so some hours have
    * more clicks than impressions. `unroutable` extra files carry a wrong
    * prefix or an impossible date and must be skipped by the router.
    */
  def plan(
      seed: Long,
      dates: Seq[LocalDate],
      filesPerHour: Int,
      eventsPerFile: Int,
      otherShare: Double,
      unroutable: Int
  ): EtlPlan = {
    val rnd = Gen.random(seed)
    def name(prefix: String, digits: String, n: Int): String =
      f"${prefix}_processed_dk_$digits%s${rnd.nextInt(1000)}%03d_${172756391 + rnd.nextInt(1000)}-${172757391 + rnd.nextInt(1000)}_$n.parquet"
    def stamp(d: LocalDate, h: Int): String =
      f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d$h%02d${rnd.nextInt(60)}%02d${rnd.nextInt(60)}%02d"
    def sizes(kind: String): (Int, Int) = {
      val total = (eventsPerFile * (0.6 + 0.8 * rnd.nextDouble())).toInt
      val scale = if (kind == "clicks") 0.3 + 0.9 * rnd.nextDouble() else 1.0
      val matching = (total * (1 - otherShare) * scale).toInt
      (matching, total - matching)
    }
    val regular = for {
      d <- dates
      h <- 0 until 24
      kind <- Seq("impressions", "clicks")
      if rnd.nextInt(20) != 0
      n <- 0 until filesPerHour
    } yield {
      val (m, o) = sizes(kind)
      EventFile(name(kind, stamp(d, h), n), kind, d.toString, h, m, o)
    }
    val bad = (0 until unroutable).map { i =>
      val d = dates(i % dates.size)
      val (m, o) = sizes("impressions")
      if (i % 2 == 0) EventFile(name("views", stamp(d, i % 24), i), "unroutable", d.toString, i % 24, m, o)
      else EventFile(name("impressions", f"${d.getYear}%04d13${i % 28 + 1}%02d000000", i), "unroutable", d.toString, 0, m, o)
    }
    EtlPlan(regular ++ bad)
  }

  /** Write a plan's files into `dir` in one job, in the reference's minimal
    * consumed shape: the nested `device_settings.user_agent` plus decoy
    * fields.
    */
  def write(spark: SparkSession, seed: Long, plan: EtlPlan, dir: Path): Unit = {
    import spark.implicits._
    val id = col("interaction_id")
    val events = plan.files
      .map(f => (f.name, f.matching, f.other))
      .toDF("file", "matching", "other")
      .select(col("file"), col("matching"), posexplode(sequence(lit(1), col("matching") + col("other"))))
      .select(
        col("file"),
        col("pos").as("i"),
        when(col("pos") < col("matching"), lit(UserAgent)).otherwise(lit("other agent")).as("ua"),
        Gen.between(seed, "iid", 1L, 1L << 40, col("file"), col("pos")).as("interaction_id")
      )
      .select(
        col("file"),
        col("i"),
        struct(
          col("ua").as("user_agent"),
          struct(lit(1920).as("width"), lit(1080).as("height")).as("screen_size"),
          array(lit("en"), lit("dk")).as("language_codes")
        ).as("device_settings"),
        struct(struct(id.as("lo"), lit(0L).as("hi")).as("transaction_id"), lit(1653590000000L).as("creation_time"))
          .as("transaction_header"),
        id,
        lit("http://example.test/page").as("page_url")
      )
    Gen.writeFilePerKey(events, "file", Seq("i"), dir, drop = Seq("i"))
  }
}

/** The program's generalized-inventory tables (TPC-H-like star schema,
  * `events`, `documents`, `embeddings`), one parquet directory each, in the
  * shapes and value ranges of the data the registry was written against.
  */
object TableGen {

  final case class Sizes(
      customers: Long,
      suppliers: Long,
      parts: Long,
      orders: Long,
      lineitems: Long,
      events: Long,
      documents: Long,
      embeddings: Long
  )

  val Vocabulary: Seq[String] = Seq(
    "a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash", "merge",
    "batch", "spark", "line", "sort", "window", "order", "data", "column", "join", "small", "customer",
    "query", "filter", "big", "stream", "group", "vector", "index", "shard", "token", "plan", "cache", "node"
  )

  private def pick(values: Seq[String], u: Column): Column =
    element_at(array(values.map(lit): _*), (floor(u * values.size) + 1).cast("int"))

  /** Write every table; the ten small writes run concurrently. */
  def writeAll(spark: SparkSession, seed: Long, s: Sizes, dir: Path): Unit = {
    import Gen.{between, unit}
    val writes = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def save(df: DataFrame, dir: Path, table: String): Unit =
      writes += (() => df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$table.parquet").toString))
    val id = col("id")
    save(
      spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")),
      dir, "region")
    save(
      spark.range(25).select(id.cast("int").as("n_nationkey"), concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      dir, "nation")
    save(
      spark.range(s.customers).select(id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
        between(seed, "c_nation", 0, 24, id).cast("int").as("c_nationkey"),
        round(unit(seed, "c_bal", id) * 11000 - 1000, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), unit(seed, "c_seg", id)).as("c_mktsegment")),
      dir, "customer")
    save(
      spark.range(s.suppliers).select(id.as("s_suppkey"), format_string("Supplier#%09d", id).as("s_name"),
        between(seed, "s_nation", 0, 24, id).cast("int").as("s_nationkey"),
        round(unit(seed, "s_bal", id) * 10000, 2).as("s_acctbal")),
      dir, "supplier")
    save(
      spark.range(s.parts).select(id.as("p_partkey"),
        concat_ws(" ", pick(Seq("blue", "hot", "small", "old", "red", "new", "cold", "large"), unit(seed, "p_adj", id)),
          pick(Seq("bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo"), unit(seed, "p_noun", id))).as("p_name"),
        concat(lit("Brand#"), between(seed, "p_brand", 1, 25, id)).as("p_brand"),
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"), unit(seed, "p_type", id)).as("p_type"),
        between(seed, "p_size", 1, 50, id).cast("int").as("p_size"),
        round(lit(900.0) + id / 10.0, 2).as("p_retailprice")),
      dir, "part")
    val day0 = lit(java.sql.Date.valueOf("1995-01-01"))
    save(
      spark.range(s.orders).select(id.as("o_orderkey"), between(seed, "o_cust", 0, s.customers - 1, id).as("o_custkey"),
        pick(Seq("F", "O", "P"), unit(seed, "o_status", id)).as("o_orderstatus"),
        round(unit(seed, "o_price", id) * 500000 + 1000, 2).as("o_totalprice"),
        date_add(day0, between(seed, "o_date", 0, 2403, id).cast("int")).cast("timestamp").as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), unit(seed, "o_prio", id)).as("o_orderpriority")),
      dir, "orders")
    save(
      spark.range(s.lineitems).select(between(seed, "l_order", 0, s.orders - 1, id).as("l_orderkey"),
        between(seed, "l_part", 0, s.parts - 1, id).as("l_partkey"),
        between(seed, "l_supp", 0, s.suppliers - 1, id).as("l_suppkey"),
        between(seed, "l_line", 1, 7, id).cast("int").as("l_linenumber"),
        between(seed, "l_qty", 1, 50, id).cast("double").as("l_quantity"),
        round(unit(seed, "l_ext", id) * 100000 + 900, 2).as("l_extendedprice"),
        (between(seed, "l_disc", 0, 10, id) / 100.0).as("l_discount"),
        (between(seed, "l_tax", 0, 8, id) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), unit(seed, "l_rf", id)).as("l_returnflag"),
        pick(Seq("F", "O"), unit(seed, "l_ls", id)).as("l_linestatus"),
        date_add(day0, between(seed, "l_ship", 1, 2498, id).cast("int")).cast("timestamp").as("l_shipdate")),
      dir, "lineitem")
    val jan = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    save(
      spark.range(s.events).select(id.as("event_id"),
        timestamp_seconds(lit(jan) + (id * (30L * 86400) / s.events) + between(seed, "e_ts", 0, 59, id)).as("ts"),
        between(seed, "e_user", 0, s.customers - 1, id).as("user_id"),
        pick(Seq("click", "signup", "error", "view", "purchase"), unit(seed, "e_type", id)).as("event_type"),
        round(unit(seed, "e_val", id) * 490 + 0.01, 2).as("value"),
        format_string("{\"k\": %d}", between(seed, "e_k", 0, 99, id)).as("props")),
      dir, "events")
    save(documents(spark, seed, s.documents), dir, "documents")
    save(embeddings(spark, seed, s.embeddings), dir, "embeddings")
    Gen.parallel(writes.toSeq)
  }

  /** Documents of 20-90 vocabulary words; about one in six is a near copy of
    * an earlier document (one word in ten replaced), so the dedup, cluster
    * and span operators have real work.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import Gen.{between, unit}
    val id = col("id")
    val copies = unit(seed, "d_dup", id) < 1.0 / 6 && id > 0
    val src = when(copies, between(seed, "d_src", 0, 1L << 30, id) % id).otherwise(id)
    val vocab = array(Vocabulary.map(lit): _*)
    def word(of: Column, i: Column) = element_at(vocab, (pmod(xxhash64(lit(seed), lit("d_w"), of, i), lit(Vocabulary.size)) + 1).cast("int"))
    spark
      .range(n)
      .select(id, src.as("src"))
      .select(
        id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), between(seed, "d_len", 20, 90, col("src")).cast("int")), i =>
          when(col("src") =!= id && pmod(xxhash64(lit(seed), lit("d_edit"), id, i), lit(10)) === 0, word(id, i))
            .otherwise(word(col("src"), i)))).as("text"),
        pick(Seq("en", "en", "en", "zh", "de", "fr", "es"), unit(seed, "d_lang", id)).as("lang"),
        concat(lit("src"), id % 20).as("source")
      )
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-length 64-d embeddings around ten label centroids. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import Gen.{between, unit}
    val id = col("id")
    val raw = transform(sequence(lit(0), lit(63)), d =>
      unit(seed, "centroid", col("label"), d) - 0.5 + (unit(seed, "noise", id, d) - 0.5) * 0.8)
    spark
      .range(n)
      .select(id, between(seed, "label", 0, 9, id).cast("int").as("label"))
      .select(id.as("vec_id"), raw.as("raw"), col("label"))
      .select(
        col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float")).as("embedding"),
        col("label")
      )
  }
}
