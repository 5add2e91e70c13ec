package graft

import org.apache.spark.graft.Codegen

/** A session graft builds keeps its plan working set in Spark's
  * generated-class cache: running the same plans again compiles nothing.
  * With Spark's default of 100 entries, 150 distinct plans evict each
  * other and every round compiles them all again.
  */
class SessionsSpec extends SparkTestBase {

  test("an owned session carries graft's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
  }

  test("150 distinct whole-stage plans, run twice, compile nothing the second time") {
    // codegen inlines integer literals, so each i is its own generated class
    def round(): Long = {
      val before = Codegen.compiles()
      (1 to 150).foreach(i => spark.range(100).selectExpr(s"id * $i + $i").collect())
      Codegen.compiles() - before
    }
    val first = round()
    assert(first >= 150, s"expected one class per plan, compiled $first")
    assert(round() === 0L)
  }
}
