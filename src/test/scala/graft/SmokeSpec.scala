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
  *
  * Each query runs through `SparkEntry.run`, the scope every harness
  * main runs it in, and each test then checks that the scope retained
  * nothing: no cached relation and no persistent RDD the query made.
  */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"smoke: $name executes on sf0.001") {
      // the suites share one session; count only what this query left
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.run(spark, name, dir) { df =>
        GateSchemaSpec.assertScalarTopLevel(name, df)
        assert(df.count() >= 0)
      }
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cached relation")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
      assert(left.isEmpty, s"$name left persistent RDDs $left")
    }
  }
}
