package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, MapType, StructType, StructField}
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver's correctness gate sorts each query result as a pandas
  * frame before hashing; a top-level Array/Map/Struct column crashes
  * its comparator (`unhashable type: 'numpy.ndarray'`). That trap fired
  * twice — c18_arrays in round 1 and sim_int8_quantize in round 8 —
  * both times AFTER the driver ran, costing a round. This spec makes
  * the contract local: every `SparkEntry.queries` output schema must be
  * comparator-sortable, i.e. scalar-only at the top level. Serialize
  * list results with `array_join(col, "|")` (oracle twin:
  * `array_to_string(col, '|')`), the documented c18 lesson.
  *
  * Each query is built through the one real construction path and not
  * executed, so a failure here names a schema fault apart from a
  * runtime one. `SmokeSpec` asserts the same gate on the DataFrame it
  * counts.
  */
class GateSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"gate-schema: $name emits only scalar top-level columns") {
      try GateSchemaSpec.assertScalarTopLevel(name, fn(spark, dir))
      finally spark.sharedState.cacheManager.clearCache()
    }
  }
}

object GateSchemaSpec {
  private def offending(f: StructField): Boolean = f.dataType match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _                                         => false
  }

  /** Fails with the gate message when `df` has a top-level column the
    * comparator cannot sort. */
  def assertScalarTopLevel(name: String, df: DataFrame): Unit = {
    val bad = df.schema.fields.filter(offending)
    assert(
      bad.isEmpty,
      s"query '$name' emits non-scalar top-level column(s) " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
        " — the driver's pandas comparator cannot sort these; " +
        "serialize with array_join(col, \"|\") and mirror with " +
        "array_to_string in the oracle (see Relational2's c18 note)")
  }
}
