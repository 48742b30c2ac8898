package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native expression correctness: interpreted eval vs codegen paths, null
  * handling, and agreement with the built-in HOF equivalents.
  */
class VecFunctionsSpec extends SparkSpec {

  test("vec_dot matches the aggregate/zip_with fold exactly") {
    VecFunctions.install(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -0.5), Array(2.0, 2.0)),
      (Array.empty[Double], Array.empty[Double])
    ).toDF("a", "b")
    val rows = df
      .withColumn("native", expr("vec_dot(a, b)"))
      .withColumn("hof", expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, e) -> acc + e)"))
      .collect()
    rows.foreach(r => assert(r.getDouble(2) === r.getDouble(3)))
    assert(rows(0).getDouble(2) === 32.0)
    assert(rows(2).getDouble(2) === 0.0)
  }

  test("vec_dot propagates nulls") {
    VecFunctions.install(spark)
    import spark.implicits._
    val df = Seq((Option.empty[Array[Double]], Some(Array(1.0)))).toDF("a", "b")
    assert(df.selectExpr("vec_dot(a, b)").collect().head.isNullAt(0))
  }

  test("sorted_intersect_count matches size(array_intersect) on sorted distinct arrays") {
    VecFunctions.install(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(3L, 4L, 5L, 10L)),
      (Array(1L, 2L), Array(3L, 4L)),
      (Array.empty[Long], Array(1L)),
      (Array(7L), Array(7L))
    ).toDF("a", "b")
    val rows = df
      .withColumn("native", expr("sorted_intersect_count(a, b)"))
      .withColumn("builtin", size(array_intersect(col("a"), col("b"))))
      .collect()
    rows.foreach(r => assert(r.getInt(2) === r.getInt(3)))
    assert(rows.map(_.getInt(2)).toSeq === Seq(2, 0, 0, 1))
  }

  test("property: minhash signature agreement estimates Jaccard (k=16 envelope)") {
    VecFunctions.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // token universes with controlled overlap → known true Jaccard
    val cases = Seq(0.2, 0.5, 0.8, 0.95).map { target =>
      val shared = (1 to (target * 200).toInt).map(i => rnd.nextLong()).toArray
      val extra = ((target * 200).toInt until 200).map(_ => rnd.nextLong()).toArray
      val extrb = ((target * 200).toInt until 200).map(_ => rnd.nextLong()).toArray
      val a = (shared ++ extra).sorted
      val b = (shared ++ extrb).sorted
      val trueJ = shared.length.toDouble / (a.length + b.length - shared.length)
      (a, b, trueJ)
    }
    val df = cases.map { case (a, b, j) => (a, b, j) }.toDF("a", "b", "true_j")
    val rows = df
      .selectExpr(
        "true_j",
        "minhash_sigs16(a) AS sa",
        "minhash_sigs16(b) AS sb"
      )
      .selectExpr("true_j", "size(zip_with(sa, sb, (x, y) -> x = y)) AS k",
        "aggregate(zip_with(sa, sb, (x, y) -> if(x = y, 1, 0)), 0, (acc, e) -> acc + e) AS matches")
      .collect()
    rows.foreach { r =>
      val est = r.getInt(2).toDouble / r.getInt(1)
      val trueJ = r.getDouble(0)
      assert(math.abs(est - trueJ) <= 0.35, s"minhash estimate $est too far from $trueJ")
    }
  }

  test("GraftExtensions injects functions into a fresh session (withExtensions hook)") {
    // `spark.sql.extensions` is a STATIC conf read from the SparkContext at
    // session build — it can't be flipped on an already-running context, so
    // exercise the same hook object through builder.withExtensions.
    import org.apache.spark.sql.SparkSession
    val original = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession
        .builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val v = ext.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS v").collect().head.getDouble(0)
      assert(v === 11.0)
    } finally {
      SparkSession.setDefaultSession(original)
      SparkSession.setActiveSession(original)
    }
  }

  test("expressions survive both codegen and interpreted evaluation") {
    VecFunctions.install(spark)
    import spark.implicits._
    val df = Seq((Array(1.0, 1.0), Array(2.0, 3.0))).toDF("a", "b")
    // wholestage off forces the interpreted/fallback path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      assert(df.selectExpr("vec_dot(a, b)").collect().head.getDouble(0) === 5.0)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(df.selectExpr("vec_dot(a, b)").collect().head.getDouble(0) === 5.0)
  }

  test("property: native kernels match reference semantics on random inputs") {
    VecFunctions.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed: reproducible
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(80)
      val a = Array.fill(n)(rnd.nextDouble() * 10 - 5)
      val b = Array.fill(n)(rnd.nextDouble() * 10 - 5)
      val toks = Array.fill(1 + rnd.nextInt(60))(rnd.nextLong() % 1000)
      val setA = Array.fill(1 + rnd.nextInt(40))(rnd.nextLong() % 500).distinct.sorted
      val setB = Array.fill(1 + rnd.nextInt(40))(rnd.nextLong() % 500).distinct.sorted
      val df = Seq((a, b, toks, setA, setB)).toDF("a", "b", "toks", "sa", "sb")
      val row = df.selectExpr(
        "vec_dot(a, b)",
        "sorted_intersect_count(sa, sb)",
        "simhash64(toks)",
        "minhash_sigs16(toks)"
      ).collect().head

      // vec_dot == sequential fold (identical order => identical doubles)
      val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      assert(row.getDouble(0) === dot)
      // sorted_intersect_count == set-intersection size
      assert(row.getInt(1) === setA.toSet.intersect(setB.toSet).size)
      // simhash is permutation-invariant (bit votes are a multiset sum)
      val shuffled = rnd.shuffle(toks.toList).toArray
      val sigShuffled = Seq(Tuple1(shuffled)).toDF("t").selectExpr("simhash64(t)").collect().head.getLong(0)
      assert(row.getLong(2) === sigShuffled, "simhash must not depend on token order")
      // minhash: adding elements can only LOWER each signature slot
      val superset = toks ++ Array.fill(5)(rnd.nextLong() % 1000)
      val sigSub = row.getSeq[Long](3)
      val sigSuper = Seq(Tuple1(superset)).toDF("t").selectExpr("minhash_sigs16(t)")
        .collect().head.getSeq[Long](0)
      assert(sigSub.zip(sigSuper).forall { case (s, sup) => sup <= s },
        "minhash slots must be monotone under superset")
    }
  }
}
