package graft.operators

import graft.SparkSpec

/** Stage cost accounting over toy stages on `spark.range`: a build that
  * enters another stage is charged only its own seconds, the inner stage is
  * listed among its dependencies, and neither depends on the walk order.
  */
class StageAccountingSpec extends SparkSpec {
  import StageAccountingSpec._

  private def walk(order: Seq[Stage[_]], dir: String): (Map[String, Double], Map[String, Seq[String]]) = {
    order.foreach(_(spark, dir))
    val names = order.map(_.name).toSet
    (Stage.ownSeconds.filter(e => names(e._1)), Stage.deps.filter(e => names(e._1)))
  }

  test("a build is charged only its own seconds and lists the stages it entered, in any walk order") {
    spark.range(10).selectExpr("id * 2 AS id").localCheckpoint() // first-job warm-up, outside any build
    val (ownA, depsA) = walk(Seq(outer, inner), "toy-walk-a")
    val (ownB, depsB) = walk(Seq(inner, outer), "toy-walk-b")
    val want = Map(inner.name -> InnerS, outer.name -> OuterS)
    Seq(ownA, ownB).foreach { own =>
      assert(own.keySet === want.keySet)
      want.foreach { case (k, s) =>
        assert(own(k) >= s && own(k) < s + Slack, s"$k charged ${own(k)} s, own work is $s s")
      }
    }
    want.keys.foreach(k => assert(math.abs(ownA(k) - ownB(k)) < Slack, s"$k: ${ownA(k)} vs ${ownB(k)}"))
    assert(depsA === Map(outer.name -> Seq(inner.name), inner.name -> Nil))
    assert(depsB === depsA)
  }

  test("declaring a second stage with an existing name fails") {
    val e = intercept[IllegalArgumentException](Stage(inner.name)((spark, _) => spark.range(1)))
    assert(e.getMessage.contains(inner.name))
  }
}

object StageAccountingSpec {
  val InnerS = 1.0
  val OuterS = 0.5
  val Slack = 0.4

  val inner: Stage[org.apache.spark.sql.DataFrame] = Stage("toy_accounting_inner") { (spark, _) =>
    Thread.sleep((InnerS * 1000).toLong)
    spark.range(10).toDF().localCheckpoint()
  }

  val outer: Stage[org.apache.spark.sql.DataFrame] = Stage("toy_accounting_outer") { (spark, dir) =>
    val base = inner(spark, dir)
    Thread.sleep((OuterS * 1000).toLong)
    base.selectExpr("id * 2 AS id").localCheckpoint()
  }
}
