package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executes EVERY `SparkEntry.queries` entry on sf0.001 and asserts it
  * runs (no analysis/runtime throw). This is the in-repo guard the
  * round-6 postmortem called for: when the driver regenerates
  * `/root/testdata` with a new encoding, the breakage fails `sbt test`
  * within minutes instead of silently shrinking the correctness file
  * (r6 lost 21 oracle rows that way). One test per query so a failure
  * names the query directly.
  *
  * Each test also holds the output-schema gate: the correctness gate
  * sorts each query result as a pandas frame before hashing, and a
  * top-level Array/Map/Struct column crashes its comparator
  * (`unhashable type: 'numpy.ndarray'`). That trap fired twice —
  * c18_arrays in round 1 and sim_int8_quantize in round 8 — both times
  * only once the gate ran, costing a round. So the DataFrame a query
  * builds must be comparator-sortable, i.e. scalar-only at the top
  * level, before it is counted (`GateSchemaSpec.assertScalarTopLevel`,
  * which `GateSchemaSpec` also asserts per query without executing).
  */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"smoke: $name executes on sf0.001") {
      try {
        val df = fn(spark, dir)
        GateSchemaSpec.assertScalarTopLevel(name, df)
        val n = df.count()
        assert(n >= 0)
      } finally spark.sharedState.cacheManager.clearCache()
    }
  }
}
