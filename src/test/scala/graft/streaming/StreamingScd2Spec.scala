package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.operators.Temporal

class StreamingScd2Spec extends SparkSpec {

  private def eventsDf(rows: Seq[(Long, String, String, Long)]) = {
    import spark.implicits._
    rows
      .map { case (u, s, ts, id) => (u, s, Timestamp.valueOf(ts), id) }
      .toDF("user_id", "event_type", "ts", "event_id")
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("user_id", "state", "valid_from", "valid_to", "version", "is_current")
      .collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .toSeq
      .sorted

  test("scd2 maintainer: incremental ticks, redelivery no-op, out-of-order rebuild") {
    val land = Files.createTempDirectory("scd2_land").toString
    val hist = Files.createTempDirectory("scd2_hist").resolve("history").toString

    val drop1 = Seq(
      (1L, "click", "2024-01-01 10:00:00", 0L),
      (1L, "view", "2024-01-01 11:00:00", 1L),
      (2L, "click", "2024-01-01 10:30:00", 2L)
    )
    val drop2 = Seq(
      (1L, "purchase", "2024-01-02 09:00:00", 3L),
      (2L, "click", "2024-01-02 10:00:00", 4L), // same state: compresses away
      (3L, "view", "2024-01-02 11:00:00", 5L) // brand-new user
    )

    eventsDf(drop1).write.mode("append").parquet(land)
    val t1 = StreamingScd2.tick(spark, land, hist)
    assert(t1.mode === "incremental" && t1.watermark === 2L)
    assert(canon(StreamingScd2.readHistory(spark, hist)) === canon(Temporal.scd2Of(eventsDf(drop1))))

    eventsDf(drop2).write.mode("append").parquet(land)
    val t2 = StreamingScd2.tick(spark, land, hist)
    assert(t2.mode === "incremental" && t2.watermark === 5L)
    val full = Temporal.scd2Of(eventsDf(drop1 ++ drop2))
    assert(canon(StreamingScd2.readHistory(spark, hist)) === canon(full))
    // user 2's same-state event created no version; user 3 started at v1
    val h = StreamingScd2.readHistory(spark, hist).collect()
    assert(h.filter(_.getLong(0) == 2L).map(_.getInt(4)).toSeq === Seq(1))
    assert(h.filter(_.getLong(0) == 3L).map(_.getInt(4)).toSeq === Seq(1))

    // redelivery / empty tick: watermark already covers everything
    val t3 = StreamingScd2.tick(spark, land, hist)
    assert(t3.mode === "noop")
    assert(canon(StreamingScd2.readHistory(spark, hist)) === canon(full))

    // out-of-order drop (before user 1's open interval) → full rebuild
    val late = Seq((1L, "view", "2024-01-01 12:00:00", 6L))
    eventsDf(late).write.mode("append").parquet(land)
    val t4 = StreamingScd2.tick(spark, land, hist)
    assert(t4.mode === "rebuild")
    assert(
      canon(StreamingScd2.readHistory(spark, hist)) ===
        canon(Temporal.scd2Of(eventsDf(drop1 ++ drop2 ++ late)))
    )
  }
}
