package graft.api

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** C20 incremental strategies (ref strategy list
  * `A/dbt/fal/adapters/python/impl.py:256-291`) + feature-store listing
  * (`A/fal/dbt/feature_store/feature.py:6-17`).
  */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshApi(): FalApi = {
    val root = Files.createTempDirectory("graft-incr").toString
    new FalApi(spark, new Registry(root), new RunLedger)
  }

  import spark.implicits._

  test("merge upserts by key: replaced + inserted + untouched") {
    val api = freshApi()
    api.writeToModel(Seq((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0)).toDF("id", "name", "v"), "m")
    // increment: update id=2, insert id=4
    api.writeToModelMerge(
      Seq((2L, "b2", 21.0), (4L, "d", 40.0)).toDF("id", "name", "v"),
      "m", keys = Seq("id"))
    val out = api.ref("m").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 21.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("append schema evolution: widening batch null-fills old rows") {
    val api = freshApi()
    api.writeToModel(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "w")
    api.writeToModel(Seq((3L, "c", 9.5)).toDF("id", "s", "score"), "w",
      mode = "append")
    val out = api.ref("w").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(9.5))))
  }

  test("append schema evolution: narrower batch keeps chain columns") {
    // the head version's _schema.ddl governs the whole chain read — an
    // unmerged narrower batch schema would silently HIDE the older
    // columns; the merged DDL keeps them and null-fills the new rows
    val api = freshApi()
    api.writeToModel(Seq((1L, "a", 9.5)).toDF("id", "s", "score"), "n")
    api.writeToModel(Seq((2L, "b")).toDF("id", "s"), "n",
      mode = "append")
    val out = api.ref("n").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq((1L, "a", Some(9.5)), (2L, "b", None)))
    // and a compaction of the drifted chain preserves the merged shape
    api.compactModel("n")
    assert(api.ref("n").columns.toSeq == Seq("id", "s", "score"))
    assert(api.ref("n").count() == 2)
  }

  test("append type conflict fails at the write, not at a later read") {
    val api = freshApi()
    api.writeToModel(Seq((1L, 10.0)).toDF("id", "v"), "t")
    val e = intercept[IllegalArgumentException] {
      api.writeToModel(Seq((2L, "not a double")).toDF("id", "v"), "t",
        mode = "append")
    }
    assert(e.getMessage.contains("conflicts"))
    // the failed append must not have corrupted the chain
    assert(api.ref("t").count() == 1)
  }

  test("merge and insert_overwrite tolerate a narrower increment") {
    val api = freshApi()
    api.writeToModel(Seq((1L, "p0", 1.0), (2L, "p0", 2.0))
      .toDF("id", "part", "v"), "mi")
    api.writeToModelMerge(Seq((2L, "p0")).toDF("id", "part"), "mi",
      keys = Seq("id"))
    val m = api.ref("mi").orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None
        else Some(r.getDouble(2))))
    assert(m.toSeq == Seq((1L, Some(1.0)), (2L, None)))
    api.writeToModelInsertOverwrite(
      Seq((9L, "p0")).toDF("id", "part"), "mi", "part")
    assert(api.ref("mi").select("id").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("merge on an empty target behaves as create") {
    val api = freshApi()
    api.writeToModelMerge(Seq((1L, "x")).toDF("id", "s"), "m2",
      keys = Seq("id"))
    assert(api.ref("m2").count() == 1)
  }

  test("insert_overwrite replaces only the touched partitions") {
    val api = freshApi()
    api.writeToModel(Seq(("2024-01-01", 1L), ("2024-01-01", 2L),
      ("2024-01-02", 3L), ("2024-01-03", 4L)).toDF("day", "id"), "part")
    // rewrite day 01 with a single row, leave 02/03 alone
    api.writeToModelInsertOverwrite(
      Seq(("2024-01-01", 9L)).toDF("day", "id"), "part", "day")
    val out = api.ref("part").orderBy("day", "id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("2024-01-01", 9L), ("2024-01-02", 3L),
      ("2024-01-03", 4L)))

    // a multi-column partition_by arrives as the raw comma-joined meta
    // value, as Runner passes it
    api.registry.register(ModelDef("part2", ModelKind.Sql("SELECT 1"),
      meta = Map("partition_by" -> "day,region")))
    api.writeToModel(Seq(("2024-01-01", "eu", 1L), ("2024-01-01", "us", 2L),
      ("2024-01-02", "eu", 3L)).toDF("day", "region", "id"), "part2")
    // replace (01, eu) only; (01, us) and (02, eu) stay
    api.writeToModelInsertOverwrite(
      Seq(("2024-01-01", "eu", 9L)).toDF("day", "region", "id"), "part2",
      "day,region")
    val out2 = api.ref("part2").orderBy("day", "region", "id").collect()
      .map(r => (r.getAs[String]("day"), r.getAs[String]("region"),
        r.getAs[Long]("id")))
    assert(out2.toSeq == Seq(("2024-01-01", "eu", 9L),
      ("2024-01-01", "us", 2L), ("2024-01-02", "eu", 3L)))
  }

  test("feature listing derives features from meta + schema") {
    val api = freshApi()
    api.registry.register(ModelDef("feat_model",
      ModelKind.Sql("SELECT 1"),
      meta = Map("feature_store.entity_column" -> "user_id",
        "feature_store.timestamp_column" -> "ts")))
    api.writeToModel(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.5, 3L))
        .toDF("user_id", "ts", "score", "n_orders"), "feat_model")
    val feats = api.listFeatures
    assert(feats.toSet == Set(
      ("feat_model", "score", "user_id", Some("ts")),
      ("feat_model", "n_orders", "user_id", Some("ts"))))
  }
}
