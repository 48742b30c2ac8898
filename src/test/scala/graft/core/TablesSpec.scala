package graft.core

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Loader-contract smoke spec: the driver OWNS `/root/testdata` and has
  * regenerated it mid-build before (round 9: `events.ts` switched from
  * parquet TIMESTAMP(NANOS) to timestamp[us], silently breaking all 23
  * event-table queries with one shared analysis error). This spec pins the
  * POST-LOAD schema of every table `core.Tables` serves, so a driver-side
  * regeneration surfaces as one line —
  * "testdata contract changed: events.ts is now X (expected Y)" —
  * instead of 23 downstream failures. It asserts the loader's OUTPUT
  * contract, not the file's physical encoding: `Tables.events` is allowed
  * to read nanos-as-long or NTZ on disk as long as downstream queries see
  * `ts: TimestampType`.
  */
class TablesSpec extends SparkSpec {

  // column -> expected post-load Catalyst type, per table. Timestamp
  // columns read from unadjusted parquet timestamp[us] surface as
  // TIMESTAMP_NTZ (Spark 4 inferTimestampNTZ default); events.ts alone is
  // normalized to TimestampType by the loader because the streaming /
  // windowing operators require a session-TZ timestamp.
  private val contract: Map[String, Map[String, DataType]] = Map(
    "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
    "customer" -> Map(
      "c_custkey" -> LongType,
      "c_name" -> StringType,
      "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType
    ),
    "supplier" -> Map(
      "s_suppkey" -> LongType,
      "s_name" -> StringType,
      "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType
    ),
    "part" -> Map(
      "p_partkey" -> LongType,
      "p_name" -> StringType,
      "p_brand" -> StringType,
      "p_type" -> StringType,
      "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType
    ),
    "orders" -> Map(
      "o_orderkey" -> LongType,
      "o_custkey" -> LongType,
      "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType
    ),
    "lineitem" -> Map(
      "l_orderkey" -> LongType,
      "l_partkey" -> LongType,
      "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType,
      "l_tax" -> DoubleType,
      "l_returnflag" -> StringType,
      "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType
    ),
    "events" -> Map(
      "event_id" -> LongType,
      "ts" -> TimestampType, // loader-normalized: nanos-long and NTZ inputs both land here
      "user_id" -> LongType,
      "event_type" -> StringType,
      "value" -> DoubleType,
      "props" -> StringType
    ),
    "documents" -> Map(
      "doc_id" -> LongType,
      "text" -> StringType,
      "lang" -> StringType,
      "source" -> StringType,
      "n_chars" -> LongType
    ),
    "embeddings" -> Map(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType
    )
  )

  private def loaded(name: String) = name match {
    case "events" => Tables.events(spark, sfDir)
    case other    => Tables.load(spark, sfDir, other)
  }

  for ((table, cols) <- contract.toSeq.sortBy(_._1))
    test(s"testdata contract: $table post-load schema") {
      val actual = loaded(table).schema.map(f => f.name -> f.dataType).toMap
      val drift = cols.toSeq.sortBy(_._1).flatMap { case (col, want) =>
        actual.get(col) match {
          case None                      => Some(s"testdata contract changed: $table.$col is missing")
          case Some(got) if got != want  => Some(s"testdata contract changed: $table.$col is now $got (expected $want)")
          case _                         => None
        }
      } ++ (actual.keySet -- cols.keySet).toSeq.sorted.map(c =>
        s"testdata contract changed: new column $table.$c (${actual(c)})"
      )
      assert(drift.isEmpty, drift.mkString("; "))
    }

  test("documents.text is pure ASCII (the multimodal-oracle byte-arithmetic contract)") {
    // q37/q39/q65's DuckDB oracles reproduce the fake codec's byte
    // arithmetic as codepoint arithmetic, valid ONLY while every char is
    // one UTF-8 byte. A driver regeneration introducing non-ASCII text
    // must fail HERE with one named line, not as an opaque oracle
    // mismatch. length == octet_length over UTF-8 is exactly "all ASCII".
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val nonAscii = Tables
        .documents(spark, dir)
        .filter(org.apache.spark.sql.functions.expr("length(text) != octet_length(text)"))
        .count()
      assert(
        nonAscii === 0L,
        s"testdata contract changed: $dir documents.text has $nonAscii non-ASCII rows — " +
          "the q37/q39/q65 byte-arithmetic oracles no longer hold"
      )
    }
  }

  test("events.event_type domain is the five types q48's sampling targets assume") {
    // q48's oracle derives target_frac from a fixed five-type domain; a
    // regeneration adding a sixth type must fail here, not as a q48 gate
    // row mismatch
    val known = Set("click", "view", "purchase", "signup", "error")
    val got = loaded("events")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(
      got.subsetOf(known),
      s"testdata contract changed: events.event_type gained ${got -- known}"
    )
  }

  test("events loads and spans real time: non-empty with sane bounds") {
    // values, not just types: a regeneration that keeps the schema but
    // re-bases timestamps would silently shift every window/funnel oracle
    val row = loaded("events")
      .selectExpr("count(*) AS n", "min(ts) AS lo", "max(ts) AS hi")
      .collect()(0)
    assert(row.getLong(0) > 0, "events is empty")
    val lo = row.getTimestamp(1).toInstant
    val hi = row.getTimestamp(2).toInstant
    assert(lo.isBefore(hi), s"degenerate ts range [$lo, $hi]")
    assert(
      lo.isAfter(java.time.Instant.parse("2000-01-01T00:00:00Z")) &&
        hi.isBefore(java.time.Instant.parse("2100-01-01T00:00:00Z")),
      s"testdata contract changed: events.ts range [$lo, $hi] left the plausible window"
    )
  }

  // --- Tables.parquet: footer-read schemas ----------------------------------

  private def tmp(name: String): String = java.nio.file.Files.createTempDirectory(name).toString

  test("footer schemas: every testdata table opens with the schema Spark infers") {
    val tables = new java.io.File(sfDir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.contains("documents.parquet") && tables.contains("events.parquet"))
    for (t <- tables) {
      val p = s"$sfDir/$t"
      scala.util.Try(spark.read.parquet(p).schema) match {
        case scala.util.Success(inferred) => assert(Tables.parquet(spark, p).schema === inferred, t)
        // a file Spark cannot infer (events.ts as TIMESTAMP(NANOS)) must fail here too
        case scala.util.Failure(_) => assert(scala.util.Try(Tables.parquet(spark, p)).isFailure, t)
      }
    }
    assert(Tables.events(spark, sfDir).schema("ts").dataType === TimestampType)
  }

  test("footer schemas: several paths take the first data file in path order, as inference does") {
    import spark.implicits._
    val root = tmp("fs_multi")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$root/b")
    Seq((2L, "b", 1.5)).toDF("id", "s", "x").write.parquet(s"$root/a")
    Seq((3L, 4)).toDF("id", "n").coalesce(1).write.parquet(s"$root/c")
    val c = new java.io.File(s"$root/c").listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    for (paths <- Seq(Seq(s"$root/b", s"$root/a"), Seq(s"$root/a", s"$root/b"), Seq(c, s"$root/b"))) {
      assert(Tables.parquet(spark, paths: _*).schema === spark.read.parquet(paths: _*).schema, paths)
      assert(Tables.parquet(spark, paths: _*).count() === spark.read.parquet(paths: _*).count())
    }
    // a partitioned directory is left to Spark's own listing and inference
    Seq((5L, "p")).toDF("id", "k").write.partitionBy("k").parquet(s"$root/part")
    assert(Tables.parquet(spark, s"$root/part").schema === spark.read.parquet(s"$root/part").schema)
  }

  test("footer schemas: an empty or missing dir fails as spark.read.parquet does") {
    val empty = tmp("fs_empty")
    val onlyHidden = tmp("fs_hidden")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(onlyHidden, "_SUCCESS"))
    for (p <- Seq(empty, onlyHidden, s"$empty/missing")) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.parquet(spark, p))
      assert(got.getClass === want.getClass, p)
    }
  }

  // --- Tables.memoOnFiles ----------------------------------------------------

  test("memoOnFiles: one computation per file snapshot and plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmp("memo")
    Seq(1L, 2L).toDF("id").write.mode("append").parquet(dir)
    var runs = 0
    def probe(df: org.apache.spark.sql.DataFrame): Long = Tables.memoOnFiles(df, "count") { runs += 1; df.count() }
    // two separately opened frames over the same files share one entry
    assert(probe(Tables.parquet(spark, dir)) === 2L && probe(Tables.parquet(spark, dir)) === 2L)
    assert(runs === 1)
    // another frame over the same files is another entry
    assert(probe(Tables.parquet(spark, dir).filter(col("id") > 1)) === 1L && runs === 2)
    // an added file is a new snapshot
    Seq(3L).toDF("id").write.mode("append").parquet(dir)
    assert(probe(Tables.parquet(spark, dir)) === 3L && runs === 3)
    // a rewrite with the same row count is a new snapshot too
    Seq(7L, 8L, 9L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(probe(Tables.parquet(spark, dir)) === 3L && runs === 4)
    // a frame that reads anything but files is never memoized
    val local = Seq(1L).toDF("id")
    probe(local); probe(local)
    assert(runs === 6)
  }
}
