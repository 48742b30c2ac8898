package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one tick protocol of the incremental maintainers — the slice
  * families ([[StreamingDriftWatch]], [[StreamingSourceSketch]],
  * [[StreamingPack]], ...), [[StreamingDupClusters]],
  * [[StreamingSpanDedup]], [[StreamingCorpus]] and [[StreamingScd2]]. A
  * tick is a function of (state, delta); [[run]] fixes its order so the
  * crash-safety protocol lives in ONE place:
  *   1. read the watermark sidecar;
  *   2. derive the delta (rows with an id above the watermark) and its
  *      first id, last id and row count in ONE probe, shared by every
  *      maintainer that asks it of the same input files and watermark
  *      ([[graft.core.Tables.memoOnFiles]]) — an empty delta is a no-op
  *      tick;
  *   3. run the maintainer's body, which commits its tables: append slices
  *      under `<family>/delta_<lo>/`, rewritten tables through
  *      [[graft.core.StagedTable]];
  *   4. write the sidecar atomically, invalidate the session caches over
  *      the grown input, then compact the slice families.
  *
  * Contracts (each load-bearing, spec-pinned via the maintainers):
  *   - the tick re-derives the delta from table state, so re-running a
  *     tick over input it already covered is a no-op;
  *   - slices are keyed by the delta's FIRST id — a crashed tick's replay
  *     overwrites its own partial slice instead of leaving an overlapping
  *     id range to double-merge, and rewritten tables anti-join the delta
  *     ids, so re-applying a committed delta converges;
  *   - the sidecar is written AFTER the body, so a crash anywhere before it
  *     replays the delta; see [[Sidecar]] for why it must never tear or be
  *     guessed;
  *   - `SliceStore.maybeCompact` folds slices so tick listing cost never
  *     grows with tick count.
  */
private[streaming] object SliceMaintainer {

  /** The sidecar format of every maintainer whose state schema never
    * changed incompatibly.
    */
  val BaseFormat = 1

  /** One tick's input: the rows above watermark `wm`, their first and last
    * id and their count (never 0).
    */
  final case class Delta(rows: DataFrame, wm: Long, lo: Long, hi: Long, n: Long)

  /** The watermark sidecar `<prefix>state.json`, holding
    * `{"max_<idCol>": hi, "format": f}`: the last id a committed tick
    * covered and the state format that tick wrote.
    *
    * It is written through a temp file + ATOMIC_MOVE, so no crash point
    * leaves a TRUNCATED sidecar. A torn sidecar would read as "everything
    * is new", and the resulting full-input slice (keyed at the global min
    * id, at or below a compacted base's `_covered` watermark) would be
    * classified dead and GC'd while the watermark jumped to the global
    * max: silent, permanent loss of every row since the last real tick.
    * So every doubt fails the tick loudly instead of defaulting to "empty
    * state": a sidecar without the watermark field, a sidecar of another
    * format (a missing `format` field is format 1), and the retired
    * plain-text `<prefix>watermark` sidecar of older builds.
    */
  final case class Sidecar(prefix: String, idCol: String, format: Int) {
    private val path = Paths.get(prefix + "state.json")

    /** The persisted watermark; `Long.MinValue` before the first tick. */
    def read(): Long = {
      val retired = Paths.get(prefix + "watermark")
      if (Files.exists(retired))
        throw new IllegalStateException(
          s"$retired is the plain-text watermark sidecar of an older build; this build keeps the watermark " +
            s"in $path. Rebuild the state from the input before ticking: it is never read as empty state."
        )
      if (!Files.exists(path)) Long.MinValue
      else {
        val s = Files.readString(path)
        def field(k: String) = s"\"$k\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong)
        val found = field("format").getOrElse(1L)
        require(
          found == format,
          s"$path is state format $found, this build writes format $format. Rebuild the state dir from the " +
            "input, or migrate it, before ticking: mixing formats would silently drop or misread rows."
        )
        field(s"max_$idCol").getOrElse(
          throw new IllegalStateException(
            s"$path exists but carries no max_$idCol — refusing to treat a corrupt watermark as an empty state: $s"
          )
        )
      }
    }

    def write(hi: Long): Unit = {
      val tmp = Paths.get(prefix + "state.json.tmp")
      Files.writeString(tmp, s"""{"max_$idCol": $hi, "format": $format}""")
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** The tick protocol. `rows` is the whole input (the delta is filtered
    * from it), `dataDir` the input directory whose session caches go stale
    * and `slices` the slice-family directories compacted after the commit.
    * `noop` maps the watermark to the result of an empty tick.
    */
  def run[A](spark: SparkSession, rows: DataFrame, sidecar: Sidecar, dataDir: String, slices: Seq[String])(
      noop: Long => A
  )(body: Delta => A): A = {
    val wm = sidecar.read()
    val id = col(sidecar.idCol)
    val delta = rows.filter(id > wm)
    val mm = graft.core.Tables.memoOnFiles(delta, s"delta probe ${sidecar.idCol} > $wm") {
      delta.agg(min(id), max(id), count(lit(1))).head()
    }
    if (mm.getLong(2) == 0L) noop(wm)
    else {
      val d = Delta(delta, wm, mm.getLong(0), mm.getLong(1), mm.getLong(2))
      val out = body(d)
      sidecar.write(d.hi)
      // the input under dataDir grew: batch artifacts cached this session
      // over the pre-append input must rebuild on next access
      graft.operators.SessionCache.invalidateAllFor(spark, dataDir)
      slices.foreach(SliceStore.maybeCompact(spark, _, d.hi))
      out
    }
  }

  /** One slice-family tick: compute the family slice over the delta
    * documents and append it. Returns the number of delta docs processed
    * (0 = no-op tick).
    */
  def tick(
      spark: SparkSession,
      dataDir: String,
      stateDir: String,
      family: String,
      slice: DataFrame => DataFrame
  ): Long = tickWithLo(spark, dataDir, stateDir, family, (delta, _) => slice(delta))

  /** The slice tick with the delta's FIRST id exposed to the slice closure
    * — for families whose slice depends on PRIOR state (StreamingPack's
    * base offsets): the closure reads `readBelow(lo)` itself, so a crashed
    * tick's replay never sees its own stale slice.
    */
  def tickWithLo(
      spark: SparkSession,
      dataDir: String,
      stateDir: String,
      family: String,
      slice: (DataFrame, Long) => DataFrame
  ): Long =
    run(
      spark,
      graft.core.Tables.documents(spark, dataDir),
      Sidecar(s"$stateDir/", "doc_id", BaseFormat),
      dataDir,
      Seq(s"$stateDir/$family")
    )(_ => 0L) { d =>
      slice(d.rows, d.lo).write.mode("overwrite").parquet(s"$stateDir/$family/delta_${d.lo}")
      d.n
    }
}
