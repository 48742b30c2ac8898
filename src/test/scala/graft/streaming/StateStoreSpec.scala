package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.core.StagedTable

/** Crash-safety of the shared stage-then-swap commit: a crash after ANY
  * prefix of StagedTable.promote's filesystem steps must leave a complete table
  * where readTable looks (target or `.old`) — including the double-crash
  * case where a prior crash already left only `.old` and the REPLAYED
  * commit crashes mid-swap. The pre-fix ordering deleted `.old` before the
  * promote, so that exact sequence lost the whole table.
  */
class StateStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))

  private def writeTable(path: String, rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "v").write.mode("overwrite").parquet(path)
  }

  private def readRows(dir: String): Set[(Long, Long)] =
    StateStore
      .readTable(spark, dir, schema)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

  private val oldRows = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L)
  private val newRows = Seq(1L -> 11L, 4L -> 40L)

  test("readTable falls back to .old during the retire/promote crash window") {
    val dir = Files.createTempDirectory("ss_fb").toString + "/t"
    writeTable(dir + ".old", oldRows)
    assert(readRows(dir) === oldRows.toSet)
  }

  test("every crash prefix of a replayed commit leaves a complete table (heal-first ordering)") {
    for (failAt <- 0 to 5) {
      // prior crash state: target gone, `.old` holds the complete pre-tick
      // table, and the crashed commit's staging survives with stale bytes
      val dir = Files.createTempDirectory(s"ss_crash$failAt").toString + "/t"
      writeTable(dir + ".old", oldRows)
      writeTable(dir + ".staging", Seq(9L -> 99L))

      // the replayed commit (fresh data) crashes after `failAt` fs steps:
      // re-stage (what commit's write does) then the injected-crash swap
      import spark.implicits._
      writeTable(dir + ".staging", newRows)
      val crashed =
        try { StagedTable.promote(dir, failAt); false }
        catch { case _: IllegalStateException => true }

      val visible = readRows(dir)
      assert(
        visible === oldRows.toSet || visible === newRows.toSet,
        s"failAt=$failAt: crash prefix must leave the complete old or new table, got $visible"
      )

      if (crashed) {
        // the NEXT replay (no crash) must converge to the new table
        StagedTable.commit(newRows.toDF("k", "v"), dir)
      }
      assert(readRows(dir) === newRows.toSet, s"failAt=$failAt: replay must converge")
      assert(!Files.exists(Paths.get(dir + ".old")), s"failAt=$failAt: clean commit retires .old")
    }
  }

  test("SliceStore: fold-at-threshold keeps contents exact; folded leftovers are excluded then GC'd") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ss_slices").toString + "/fam"
    def slice(lo: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("k", "v").write.mode("overwrite").parquet(s"$dir/delta_$lo")
    def readAll(): Set[(Long, Long)] =
      SliceStore.read(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val a = Seq(0L -> 1L, 1L -> 1L)
    val b = Seq(5L -> 2L)
    val c = Seq(10L -> 3L)
    slice(0, a); slice(5, b)
    assert(readAll() === (a ++ b).toSet)

    spark.conf.set("graft.stream.compactSlices", "2")
    try {
      assert(SliceStore.maybeCompact(spark, dir, coveredHi = 9L))
      assert(readAll() === (a ++ b).toSet, "fold must not change contents")
      assert(Files.isDirectory(Paths.get(s"$dir/base")))
      assert(!Files.exists(Paths.get(s"$dir/delta_0")) && !Files.exists(Paths.get(s"$dir/delta_5")),
        "folded slices must be GC'd")

      // a folded slice left behind by a crash between promote and GC (lo <=
      // covered) must be EXCLUDED from reads — no double-counted rows — and
      // swept by the next compaction pass
      slice(7, Seq(5L -> 2L))
      assert(readAll() === (a ++ b).toSet, "leftover folded slice must not be re-read")
      slice(10, c)
      assert(readAll() === (a ++ b ++ c).toSet, "post-fold slices must be live")
      assert(!SliceStore.maybeCompact(spark, dir, coveredHi = 10L), "1 live slice < threshold: no fold")
      assert(!Files.exists(Paths.get(s"$dir/delta_7")), "dead slice swept even without a fold")

      // base crash window: retired base.old serves reads with its coverage
      Files.move(Paths.get(s"$dir/base"), Paths.get(s"$dir/base.old"))
      assert(readAll() === (a ++ b ++ c).toSet, "base.old fallback must keep full contents")

      // second fold from the crash-window state heals and stays exact
      slice(20, Seq(20L -> 4L))
      assert(SliceStore.maybeCompact(spark, dir, coveredHi = 20L))
      assert(readAll() === (a ++ b ++ c ++ Seq(20L -> 4L)).toSet)
      assert(Files.isDirectory(Paths.get(s"$dir/base")) && !Files.exists(Paths.get(s"$dir/base.old")))
    } finally spark.conf.unset("graft.stream.compactSlices")
  }

  test("plain commit cycle: overwrite semantics, no leftover side dirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ss_plain").toString + "/t"
    StagedTable.commit(oldRows.toDF("k", "v"), dir)
    assert(readRows(dir) === oldRows.toSet)
    StagedTable.commit(newRows.toDF("k", "v"), dir)
    assert(readRows(dir) === newRows.toSet)
    assert(!Files.exists(Paths.get(dir + ".old")) && !Files.exists(Paths.get(dir + ".staging")))
  }
}
