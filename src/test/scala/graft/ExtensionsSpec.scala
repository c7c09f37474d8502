package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the `spark.sql.extensions` deployment path must
  * inject the planner strategy and the native-kernel SQL functions
  * into a session WITHOUT any imperative registration calls. */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions injects strategy + SQL functions") {
    val base = TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master(base.sparkContext.master)
      .withExtensions(new GraftExtensions).getOrCreate()
    try {
      assert(s2 ne base, "expected a fresh session over the shared context")

      // injected planner strategy (no experimental.extraStrategies hook)
      assert(s2.sessionState.planner.strategies.contains(plans.TopKStrategy))
      assert(!s2.experimental.extraStrategies.contains(plans.TopKStrategy))

      // injected SQL functions resolve by name — no wrapper calls first
      val row = s2.sql(
        """SELECT graft_simhash_sig(array('a','b','a')) AS sig,
                  graft_shingle_set(array('a','b','c','b','c','d'), 3) AS sh,
                  graft_dot_longs(array(1L,2L,3L), array(4L,5L,6L)) AS dot,
                  graft_minhash_sig(array('x y z'), 4) AS mh,
                  graft_strip_accents(graft_nfc('señor')) AS folded,
                  graft_lang_id('le chat est sur la table') AS lang""").head()
      assert(row.getString(4) == "senor")
      assert(row.getString(5) == "fr",
        "injected graft_lang_id resolves and classifies")
      assert(row.getLong(2) == 4 + 10 + 18)
      assert(row.getSeq[String](1) == Seq("a b c", "b c b", "c b c", "b c d"))
      assert(row.getSeq[Long](3).length == 4)

      // the curve kernels resolve through the injection too
      val curves = s2.sql(
        "SELECT graft_zorder2(3L, 5L) AS z, graft_hilbert2(3L, 5L) AS h")
        .head()
      assert(curves.getLong(0) == functions.ZOrder2.compute(3L, 5L))
      assert(curves.getLong(1) == functions.Hilbert2.compute(3L, 5L))

      // sorted-merge intersect count: matches size(array_intersect)
      // on sorted duplicate-free input (incl. empty and disjoint)
      val ic = s2.sql(
        """SELECT graft_intersect_count_sorted(array(1L,3L,5L,7L),
                    array(3L,4L,5L,9L)) AS c1,
                  graft_intersect_count_sorted(array(1L,2L),
                    CAST(array() AS ARRAY<BIGINT>)) AS c2,
                  graft_intersect_count_sorted(array(1L,2L),
                    array(3L,4L)) AS c3,
                  size(array_intersect(array(1L,3L,5L,7L),
                    array(3L,4L,5L,9L))) AS ref""").head()
      assert(ic.getLong(0) == 2L && ic.getLong(0) == ic.getInt(3).toLong)
      assert(ic.getLong(1) == 0L && ic.getLong(2) == 0L)

      // the Column wrappers self-register on the ACTIVE session — the
      // no-extensions fallback path. Run it on s2 (active): the temp
      // registration shadows the injected one with identical semantics.
      val viaWrapper = s2.range(1)
        .select(graft.functions.SimHashSig.simhash_sig(
          typedLit(Seq("a", "b", "a"))).as("sig")).head().getLong(0)
      assert(row.getLong(0) == viaWrapper)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("TopKRewriteRule: row_number top-k window becomes TopKPerKey, same rows") {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master(base.sparkContext.master)
      .withExtensions(new GraftExtensions).getOrCreate()
    try {
      import org.apache.spark.sql.expressions.Window
      def latestPerKey(s: SparkSession) = {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        Tables.orders(s, "/root/testdata/sf0.001")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2).drop("rn")
          .select(col("o_custkey"), col("o_orderkey"))
      }
      val rewritten = latestPerKey(s2)
      val optimized = rewritten.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerKey"), optimized)
      assert(!optimized.contains("Window"), optimized)
      // identical rows vs the stock window formulation: the shared
      // session carries the extensions too, so the reference runs with
      // the rule excluded and must plan the Window itself
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bench.Timing.withConf(base, plans.TopKRewriteRule.Off) {
        val stock = latestPerKey(base)
        val plan = stock.queryExecution.optimizedPlan.toString
        assert(plan.contains("Window") && !plan.contains("TopKPerKey"), plan)
        stock.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(got == want)

      // keeping rn in the output must PREVENT the rewrite
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val keepsRn = Tables.orders(s2, "/root/testdata/sf0.001")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"))
      assert(keepsRn.queryExecution.optimizedPlan.toString.contains("Window"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
