package perfbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.FileRouter

class GenSpec extends AnyFunSuite {

  private val dates = Seq(LocalDate.of(2022, 5, 1), LocalDate.of(2022, 5, 2))
  private def plan(seed: Long) = EtlGen.plan(seed, dates, filesPerHour = 1, eventsPerFile = 250, otherShare = 0.25, unroutable = 4)

  test("an ETL plan is a pure function of the seed") {
    assert(plan(7) === plan(7))
    assert(plan(7) !== plan(8))
  }

  test("the manifest: 24 rows per date, counts from routable files only, some hours with clicks > impressions") {
    val p = plan(3)
    for (d <- p.dates) {
      val r = p.report(d)
      assert(r.map(_._1) === (0 until 24))
      assert(r.map(_._2).sum === p.routable.filter(f => f.date == d && f.kind == "impressions").map(_.matching.toLong).sum)
    }
    assert((1L to 20L).exists(s => plan(s).dates.exists(plan(s).excessHours(_).nonEmpty)))
    assert(p.files.map(_.name).distinct.size === p.files.size)
  }

  test("the program's router keeps exactly the files the plan calls routable") {
    val p = plan(5)
    val routed = FileRouter.route(p.files.map(f => s"/drop/${f.name}"))
    assert(routed.allFiles.map(_.stripPrefix("/drop/")).toSet === p.routable.map(_.name).toSet)
    assert(routed.dates === p.dates)
    assert(p.files.size - p.routable.size === 4)
  }

  test("the registry sample is stratified: one query from each of the largest families, in sorted order") {
    val s = RegistryWorkload.Sample
    assert(s.map(_._2).distinct.size === RegistryWorkload.SampledFamilies)
    val smallest = s.map { case (_, f) => RegistryWorkload.Families.toMap.apply(f).size }.min
    assert(RegistryWorkload.Families.count(_._2.size > smallest) < RegistryWorkload.SampledFamilies)
    assert(s.map(_._1) === s.map(_._1).sorted)
    assert(s.forall { case (q, f) => RegistryWorkload.Families.toMap.apply(f).contains(q) })
  }
}
