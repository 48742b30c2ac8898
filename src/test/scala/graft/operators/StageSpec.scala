package graft.operators

import org.apache.spark.sql.{Dataset, Row}

import graft.{SparkEntry, SparkSpec}

/** Cache equivalence over every declared stage at sf0.001: the shared value
  * equals a fresh build, and after `SessionCache.invalidateAllFor` the next
  * read is a new build that still equals it. Frames compare as row
  * multisets; tuples element by element; arrays and Seqs deeply.
  */
class StageSpec extends SparkSpec {

  /** A deep, order-canonical form: a frame becomes its sorted rows. */
  private def canon(x: Any): Any = x match {
    case ds: Dataset[_] => ds.toDF().collect().toSeq.map(canon).sortBy(_.toString)
    case r: Row        => r.toSeq.map(canon)
    case a: Array[_]   => a.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v) => (canon(k), canon(v)) }.sortBy(_.toString)
    case s: Iterable[_] => s.toSeq.map(canon)
    case p: Product if p.productArity > 0 => p.productIterator.toSeq.map(canon)
    case d: Double if d.isNaN => "NaN"
    case o                    => o
  }

  test("every stage: the shared value equals a fresh build, before and after invalidateAllFor") {
    SparkEntry.queries // initializes every operator object, so Stage.all lists every stage
    val stages = Stage.all
    assert(stages.size >= 57, s"only ${stages.size} stages registered")
    val unitStages = Set("q34_unit", "q35_planted_unit")
    assert(unitStages.subsetOf(stages.map(_.name).toSet), s"unit-corpus stages missing: $unitStages")
    val mismatches = stages.flatMap { s =>
      val shared = s(spark, sfDir)
      val want = canon(s.fresh(spark, sfDir))
      val warm = if (canon(shared) == want) Nil else Seq(s"${s.name}: shared != fresh")
      SessionCache.invalidateAllFor(spark, sfDir)
      val rebuilt = s(spark, sfDir)
      val newBuild = rebuilt match {
        case _: java.lang.Number => Nil // boxed scalars carry no identity
        case r: AnyRef if r eq shared.asInstanceOf[AnyRef] =>
          Seq(s"${s.name}: invalidateAllFor kept the old value")
        case _ => Nil
      }
      val cold = if (canon(rebuilt) == want) Nil else Seq(s"${s.name}: rebuilt != fresh")
      warm ++ newBuild ++ cold
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }
}
