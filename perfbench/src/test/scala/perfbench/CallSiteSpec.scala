package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CallSiteSpec extends AnyFunSuite {

  // a SQL execution's call site as Spark records it: its last frame on top,
  // then the issuing stack, innermost first
  private val pipelineLoad = Seq(
    "org.apache.spark.sql.Dataset.collect(Dataset.scala:3812)",
    "graft.etl.ParquetWarehouse.load(ParquetWarehouse.scala:90)",
    "graft.etl.ParquetWarehouse.loadPrepared(ParquetWarehouse.scala:44)",
    "graft.etl.Pipeline$.$anonfun$run$4(Pipeline.scala:86)",
    "scala.util.Try$.apply(Try.scala:217)",
    "graft.etl.Pipeline$.$anonfun$run$3$adapted(Pipeline.scala:80)",
    "graft.etl.Pipeline$.run(Pipeline.scala:80)",
    "graft.etl.Pipeline$.run(Pipeline.scala:53)",
    "perfbench.EtlWorkload.$anonfun$run$1(EtlWorkload.scala:66)",
    "perfbench.Main$.perform$1(Main.scala:138)",
    "perfbench.Main$.main(Main.scala:65)"
  ).mkString("\n")

  test("frames parse with and without a class-loader/module prefix") {
    assert(CallSite.frame("graft.etl.Pipeline$.run(Pipeline.scala:53)") ===
      Some(CallSite.Frame("graft.etl.Pipeline$", "run", "Pipeline.scala:53")))
    assert(CallSite.frame("app//graft.etl.Pipeline$.run(Pipeline.scala:53)").map(_.cls) === Some("graft.etl.Pipeline$"))
    assert(CallSite.frame("java.base@17.0.20/java.lang.Thread.run(Thread.java:840)").map(_.key) === Some("Thread.run"))
    assert(CallSite.frame("<unknown>") === None)
    assert(CallSite.parse(null) === Nil)
  }

  test("keys drop packages, object markers and lambda decorations") {
    assert(CallSite.simpleClass("graft.operators.Similarity$Ann$") === "Similarity.Ann")
    assert(CallSite.simpleClass("graft.etl.Pipeline$") === "Pipeline")
    assert(CallSite.simpleMethod("$anonfun$run$3$adapted") === "run")
    assert(CallSite.simpleMethod("index$lzycompute") === "index")
    assert(CallSite.simpleMethod("q101LshDupClusters") === "q101LshDupClusters")
  }

  test("the step is the program frame directly under the entry; the site the innermost") {
    val a = CallSite.attribute(CallSite.parse(pipelineLoad))
    assert(a.entry === Some("Pipeline.run"))
    assert(a.step === Some("ParquetWarehouse.loadPrepared"))
    assert(a.site === Some("ParquetWarehouse.load"))
    assert(a.bench === Some("EtlWorkload.run") && !a.stageBuild)
  }

  test("a job the entry issues itself has no step; program frames above the benchmark's are ignored") {
    val direct = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:3600)",
      "graft.etl.Pipeline$.$anonfun$run$4(Pipeline.scala:83)",
      "graft.etl.Pipeline$.run(Pipeline.scala:80)",
      "perfbench.Main$.perform$1(Main.scala:138)",
      "graft.tools.Unrelated$.main(Unrelated.scala:1)"
    ).mkString("\n")
    val a = CallSite.attribute(CallSite.parse(direct))
    assert(a.entry === Some("Pipeline.run") && a.step === None && a.site === Some("Pipeline.run"))
  }

  test("stage builds are jobs whose stack passes through SessionCache.getOrBuild") {
    val build = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:700)",
      "graft.operators.Dedup$.$anonfun$q101LshDupClusters$1(Dedup.scala:875)",
      "graft.operators.SessionCache.getOrBuild(SessionCache.scala:32)",
      "graft.operators.Dedup$.q101LshDupClusters(Dedup.scala:875)",
      "graft.operators.Dedup$.$anonfun$queries$7(Dedup.scala:3330)",
      "perfbench.RegistryWorkload.$anonfun$call$1(RegistryWorkload.scala:30)"
    ).mkString("\n")
    val a = CallSite.attribute(CallSite.parse(build))
    assert(a.stageBuild)
    assert(a.entry === Some("Dedup.queries") && a.step === Some("Dedup.q101LshDupClusters"))
  }

  test("a job issued by the benchmark's own sink has no program frame and names the sink") {
    val sink = Seq(
      "org.apache.spark.sql.Dataset.head(Dataset.scala:3300)",
      "perfbench.RegistryWorkload$.digest(RegistryWorkload.scala:150)",
      "perfbench.RegistryWorkload.$anonfun$coldPass$1(RegistryWorkload.scala:30)"
    ).mkString("\n")
    val a = CallSite.attribute(CallSite.parse(sink))
    assert(a.entry === None && a.step === None && a.bench === Some("RegistryWorkload.digest"))
    assert(CallSite.attribute(Nil).bench === None)
  }
}
