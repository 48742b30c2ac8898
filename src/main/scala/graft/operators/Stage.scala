package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One named session stage: an intermediate built once per (session, data
  * dir) and read by every later caller in the session. The value is stored
  * in a [[SessionCache]]; `apply` builds inside `SessionCache.getOrBuild`.
  *
  * Declaring a stage registers it in [[Stage.all]], so Bench builds every
  * stage before its timed loop without a hand-kept list. While a build
  * runs, the stage records the build's own seconds (nested stage builds
  * excluded) and the stages it entered; dependencies are discovered when a
  * build runs, so no declared list can go stale. Every stage under a dir
  * derives from that dir, so `SessionCache.invalidateAllFor` drops every
  * descendant.
  */
private[graft] final class Stage[T](val name: String)(build: (SparkSession, String) => T) {
  Stage.register(this)
  private val cache = new SessionCache[T]

  /** The shared value: built on first access in this session, then reused. */
  def apply(spark: SparkSession, dir: String): T = {
    Stage.entered(name)
    cache.getOrBuild(spark, dir)(Stage.accounted(name)(build(spark, dir)))
  }

  /** A build that bypasses the cache: neither reads nor stores the shared value. */
  def fresh(spark: SparkSession, dir: String): T = build(spark, dir)

  /** Drop this session's value, so the next `apply` rebuilds. */
  def invalidate(spark: SparkSession, dir: String): Unit = cache.invalidate(spark, dir)
}

private[graft] object Stage {
  def apply[T](name: String)(build: (SparkSession, String) => T): Stage[T] = new Stage(name)(build)

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Stage[_]]()

  private def register(s: Stage[_]): Unit =
    require(registry.putIfAbsent(s.name, s) == null, s"duplicate stage name: ${s.name}")

  /** Every declared stage, sorted by name. Stages are declared in operator
    * objects, so only objects already initialized are listed.
    */
  def all: Seq[Stage[_]] = registry.values().asScala.toSeq.sortBy(_.name)

  /** A build in progress: its start, the nanos spent in nested stage
    * builds, and the stages it entered.
    */
  private final class Frame(val t0: Long) {
    var nested = 0L
    val deps = scala.collection.mutable.Set[String]()
  }

  private val stack = ThreadLocal.withInitial[List[Frame]](() => Nil)
  private val ownNanos = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val depsOf = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def entered(name: String): Unit = stack.get.headOption.foreach(_.deps += name)

  private def accounted[T](name: String)(build: => T): T = {
    val f = new Frame(System.nanoTime())
    stack.set(f :: stack.get)
    try build
    finally {
      val total = System.nanoTime() - f.t0
      stack.set(stack.get.tail)
      stack.get.headOption.foreach(_.nested += total)
      ownNanos.put(name, total - f.nested)
      depsOf.put(name, f.deps.toSeq.sorted)
    }
  }

  /** Own build seconds of each stage's latest build in this JVM. */
  def ownSeconds: Map[String, Double] = ownNanos.asScala.map { case (k, v) => k -> v / 1e9 }.toMap

  /** The stages each stage's latest build entered, sorted by name. */
  def deps: Map[String, Seq[String]] = depsOf.asScala.toMap
}
