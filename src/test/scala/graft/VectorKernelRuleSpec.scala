package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** [[graft.plans.VectorKernelRule]]: the declarative HOF vector math
  * must execute as the codegen kernels, bit-identically, and the
  * rewrite must not fire on look-alike folds it cannot prove.
  */
class VectorKernelRuleSpec extends SparkSpec {
  /** Run `f` with the rule switched off through Spark's own optimizer
    * exclusion list. */
  private def ruleOff[T](f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      graft.plans.VectorKernelRule.ruleName)
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private lazy val emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding")).cache()

  test("HOF dot and cosine plans execute the graft kernels") {
    val df = emb.select(
      dotD(col("embedding"), col("embedding")).as("d"),
      cosineD(col("embedding"), reverse(col("embedding"))).as("c"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_dot"), "dot HOF must rewrite:\n" + p.take(600))
    assert(p.contains("graft_cosine"), "cosine HOF must rewrite:\n" + p.take(600))
    assert(!p.contains("aggregate(zip_with"),
      "no interpreted HOF fold should remain:\n" + p.take(600))
  }

  test("rewrite is bit-identical: rule on == rule off on real embeddings") {
    def run(): Array[(Long, Double, Double)] = emb.select(
        col("vec_id"),
        dotD(col("embedding"), reverse(col("embedding"))).as("d"),
        cosineD(col("embedding"), reverse(col("embedding"))).as("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val on = run()
    val off = ruleOff(run())
    // exact double equality — the kernels promise the identical fold
    assert(on.sameElements(off), "kernel results must match the HOF bits")
    val offPlan = ruleOff(emb.select(dotD(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString)
    assert(!offPlan.contains("graft_dot"), "rule off must keep the HOF form")
  }

  test("null and length semantics preserved through the rewrite") {
    import spark.implicits._
    val d = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f, 4.0f)),
      (2L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](3.0f, 4.0f)),
      (3L, Array[java.lang.Float](1.0f), Array[java.lang.Float](3.0f, 4.0f)),
      (4L, null.asInstanceOf[Array[java.lang.Float]], Array[java.lang.Float](1.0f)))
      .toDF("id", "a", "b")
    val out = d.select(col("id"), dotD(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty, "null element must null the dot")
    assert(out(3L).isEmpty, "length mismatch must null the dot (zip pad)")
    assert(out(4L).isEmpty, "null array must null the dot")
  }

  test("look-alike folds do NOT rewrite (different init / op / finish)") {
    val sum1 = aggregate( // init 1.0, not 0.0
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(1.0), (a, x) => a + x)
    val maxFold = aggregate( // max, not add
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (a, x) => greatest(a, x))
    val p = emb.select(sum1.as("s1"), maxFold.as("m")).queryExecution
      .executedPlan.toString
    assert(!p.contains("graft_dot"),
      "non-dot folds must stay untouched:\n" + p.take(600))
  }

  test("L2 fold rewrites to graft_l2 and is bit-identical on/off") {
    val q = emb.select(col("vec_id"),
      l2sqD(col("embedding"), reverse(col("embedding"))).as("z"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("graft_l2"), "(x-y)^2 fold must rewrite:\n" + p.take(600))
    assert(!p.contains("aggregate(zip_with"),
      "no interpreted HOF fold should remain:\n" + p.take(600))
    def run(): Array[(Long, Double)] =
      q.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val on = run()
    val off = ruleOff(run())
    assert(on.sameElements(off), "graft_l2 must match the HOF bits exactly")
    // self-distance sanity: identical operands give exactly 0.0
    val selfMax = emb.select(l2sqD(col("embedding"), col("embedding")).as("z"))
      .agg(max(abs(col("z")))).collect()(0).getDouble(0)
    assert(selfMax == 0.0)
  }

  test("L2 look-alikes do NOT rewrite (negated square / sum-square)") {
    def fold(elem: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column) =
      aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => elem(x.cast("double"), y.cast("double"))),
        lit(0.0), (a, e) => a + e)
    val negSq = fold((x, y) => (x - y) * (y - x))   // -(x-y)^2: NOT the L2 fold
    val sumSq = fold((x, y) => (x + y) * (x + y))   // (x+y)^2: NOT the L2 fold
    val p = emb.select(negSq.as("n"), sumSq.as("s"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("graft_l2"),
      "mixed-orientation / non-difference folds must stay untouched:\n" + p.take(600))
  }

  test("cosine on a zero-norm vector is NULL under the kernel, never NaN") {
    import spark.implicits._
    // parallelize so the optimizer cannot constant-fold the division at
    // plan time (a LocalRelation would hit ANSI divide-by-zero before
    // the comparison even runs)
    val d = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      (1L, Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)),
      (2L, Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 0.0)),
      (3L, Array(1.0, 2.0, 2.0), Array(2.0, 4.0, 4.0))), 2))
      .toDF("id", "a", "b")
    def run(): Map[Long, Option[Double]] =
      d.select(col("id"), cosineD(col("a"), col("b")).as("c"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    val on = run()
    assert(on(1L).isEmpty && on(2L).isEmpty,
      "zero-norm operand must yield NULL — Java's bare 0/0 NaN would sort " +
        "above every real similarity in a descending top-k")
    assert(on(3L).exists(v => math.abs(v - 1.0) < 1e-12))
    // documented divergence (kernel ≡ try_divide): under ANSI the raw HOF
    // quotient ERRORS on a zero divisor; the kernel degrades to NULL so a
    // single degenerate vector cannot kill a full-corpus similarity job
    ruleOff {
      val off = intercept[Exception] { run() }
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
      assert(chain(off).contains("DIVIDE_BY_ZERO"),
        s"expected the ANSI divide-by-zero error, got: ${chain(off).take(300)}")
    }
  }
}
