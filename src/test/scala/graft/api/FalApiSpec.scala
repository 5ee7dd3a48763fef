package graft.api

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Behavior ports of the reference's write/read round-trip assertions
  * (`cli_tests/features/write_to_model_function.feature:17-21`: append
  * then overwrite end state; `execute_sql_function.feature`; hook
  * write-blocking `fal_script.py:290-296`).
  */
class FalApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshApi(): FalApi = {
    val root = Files.createTempDirectory("graft-registry").toString
    new FalApi(spark, new Registry(root), new RunLedger)
  }

  import scala.jdk.CollectionConverters._
  private def df(values: Int*) = {
    val rows = values.map(v =>
      org.apache.spark.sql.Row(v.toLong)).asJava
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("my_int",
          org.apache.spark.sql.types.LongType))))
  }

  test("write overwrite then ref round-trips") {
    val api = freshApi()
    val res = api.writeToModel(df(1, 2, 3), "some_model")
    assert(res.rowsAffected == 3)
    assert(api.ref("some_model").count() == 3)
  }

  test("write-time schema override casts declared columns (dtype map)") {
    import org.apache.spark.sql.types._
    val api = freshApi()
    import spark.implicits._
    val in = Seq((1L, "2.5", "2021-03-04 05:06:07"))
      .toDF("my_int", "amount", "seen_at")
    api.writeToModel(in, "typed_model", schema = Map(
      "amount" -> DecimalType(12, 4), "seen_at" -> TimestampType))
    val back = api.ref("typed_model")
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    // listed columns land as the declared physical types; unlisted
    // pass through (the reference's partial-dtype semantics)
    assert(types("amount") == DecimalType(12, 4))
    assert(types("seen_at") == TimestampType)
    assert(types("my_int") == LongType)
    val r = back.collect()(0)
    assert(r.getAs[java.math.BigDecimal]("amount")
      .compareTo(new java.math.BigDecimal("2.5")) == 0)
    // a typo'd column fails loudly instead of shipping wrong types
    val e = intercept[IllegalArgumentException] {
      api.writeToModel(in, "typed_model", schema = Map(
        "amuont" -> DecimalType(12, 4)))
    }
    assert(e.getMessage.contains("amuont"))
  }

  test("append accumulates, overwrite resets (feature:17-21 semantics)") {
    val api = freshApi()
    api.writeToModel(df(0), "other_model", mode = "overwrite")
    api.writeToModel(df(3), "other_model", mode = "append")
    val vals = api.ref("other_model").orderBy("my_int")
      .collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(0L, 3L))
    api.writeToModel(df(7), "other_model", mode = "overwrite")
    assert(api.ref("other_model").collect().map(_.getLong(0)).toSeq
      == Seq(7L))
  }

  test("overwrite swaps pointer atomically, old version dir survives") {
    val api = freshApi()
    api.writeToModel(df(1), "m")
    val v1 = api.registry.currentPath("m").get
    api.writeToModel(df(2), "m")
    val v2 = api.registry.currentPath("m").get
    assert(v1 != v2)
    // old data still readable (concurrent readers keep their snapshot)
    assert(spark.read.parquet(v1).count() == 1)
    assert(spark.read.parquet(v2).head().getLong(0) == 2L)
  }

  test("executeSql substitutes ref() and source()") {
    val api = freshApi()
    api.writeToModel(df(10, 20), "base_model")
    val srcDir = Files.createTempDirectory("graft-src")
    df(5).write.mode("overwrite").parquet(srcDir.resolve("t").toString)
    api.registry.register(SourceDef("results", "t",
      srcDir.resolve("t").toString))
    val out = api.executeSql(
      """SELECT sum(my_int) AS s FROM {{ ref('base_model') }}
        |UNION ALL
        |SELECT my_int FROM {{ source('results', 't') }}""".stripMargin)
    assert(out.orderBy("s").collect().map(_.getLong(0)).toSeq
      == Seq(5L, 30L))
  }

  test("hooks cannot write models") {
    val api = freshApi()
    val hookApi = api.forHook
    intercept[IllegalArgumentException] {
      hookApi.writeToModel(df(1), "nope")
    }
    // reads still fine
    api.writeToModel(df(1), "readable")
    assert(hookApi.ref("readable").count() == 1)
  }

  test("relation metadata ops: exists, drop, rename") {
    val api = freshApi()
    api.writeToModel(df(1), "a")
    assert(api.registry.relationExists("a"))
    api.registry.renameRelation("a", "b")
    assert(!api.registry.relationExists("a"))
    assert(api.ref("b").count() == 1)
    api.registry.dropRelation("b")
    assert(!api.registry.relationExists("b"))
  }

  test("source freshness computes lag from loaded_at") {
    val api = freshApi()
    val srcDir = Files.createTempDirectory("graft-fresh")
    spark.range(1).select(
      (unix_timestamp(current_timestamp()) - 120).cast("timestamp")
        .as("loaded_at"))
      .write.mode("overwrite").parquet(srcDir.resolve("f").toString)
    api.registry.register(SourceDef("ext", "f",
      srcDir.resolve("f").toString, loadedAtField = Some("loaded_at")))
    val lag = api.sourceFreshnessSeconds("ext", "f")
    assert(lag >= 120 && lag < 600, s"lag was $lag")
  }

  test("compactModel rewrites many small files into few, same rows") {
    val api = freshApi()
    // force a many-small-files layout: 8 partitions of a tiny table
    api.writeToModel(df(1 to 80: _*).repartition(8), "shards")
    val before = api.registry.currentPath("shards").get
    def parquetFiles(dir: String) =
      Files.walk(Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parquetFiles(before) == 8)
    val res = api.compactModel("shards")
    assert(res.rowsAffected == 80)
    val after = api.registry.currentPath("shards").get
    assert(after != before, "compaction must produce a new version")
    assert(parquetFiles(after) == 1)
    assert(api.ref("shards").agg(sum("my_int")).head().getLong(0)
      == (1 to 80).sum.toLong)
    // concurrent readers of the old version keep their snapshot
    assert(spark.read.parquet(before).count() == 80)
  }

  test("refVersion time-travels to a retained version incl. its chain") {
    val api = freshApi()
    api.writeToModel(df(1), "tt")                      // v1
    api.writeToModel(df(2), "tt", mode = "append")     // v2 (chain v1)
    api.writeToModel(df(9), "tt")                      // v3 overwrite
    assert(api.ref("tt").collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(api.refVersion("tt", "v1")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(api.refVersion("tt", "v2").orderBy("my_int")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "a past append version must read with its whole chain")
    val e = intercept[NoSuchElementException] {
      api.refVersion("tt", "v9")
    }
    assert(e.getMessage.contains("v9"))
  }

  test("diffVersions reports added/removed rows with multiplicity") {
    val api = freshApi()
    import spark.implicits._
    Seq(1L, 2L, 2L, 3L).toDF("my_int")
      .createOrReplaceTempView("dv_v1")
    api.writeToModel(spark.table("dv_v1"), "dv")            // v1
    Seq(2L, 2L, 2L, 4L).toDF("my_int")
      .createOrReplaceTempView("dv_v2")
    api.writeToModel(spark.table("dv_v2"), "dv")            // v2
    val d = api.diffVersions("dv", "v1", "v2")
      .orderBy("change", "my_int")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // multiplicity: v2 has one MORE copy of 2 than v1 -> one added 2
    assert(d == Seq((2L, "added"), (4L, "added"),
      (1L, "removed"), (3L, "removed")))
  }

  test("diffVersions aligns drifted schemas by name (ADVICE r10)") {
    // append evolution means two retained versions can differ in column
    // set AND order; a positional exceptAll would compare wrong columns
    val api = freshApi()
    import spark.implicits._
    api.writeToModel(
      Seq((1L, "a"), (2L, "b")).toDF("id", "label"), "sd")       // v1
    api.writeToModel(
      Seq(("b", 2L, 0.5), ("c", 3L, 1.5))
        .toDF("label", "id", "score"), "sd")                     // v2
    val d = api.diffVersions("sd", "v1", "v2")
    assert(d.columns.toSet == Set("id", "label", "score", "change"))
    val rows = d.orderBy("change", "id")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("label"),
        Option(r.getAs[Any]("score")), r.getAs[String]("change"))).toSeq
    // row (2,"b") differs only by the new score column: null vs 0.5,
    // so it reports on BOTH sides; (1,"a") removed; (3,"c") added
    assert(rows == Seq(
      (2L, "b", Some(0.5), "added"),
      (3L, "c", Some(1.5), "added"),
      (1L, "a", None, "removed"),
      (2L, "b", None, "removed")))
  }

  test("vacuumModel drops old versions, keeps current") {
    val api = freshApi()
    (1 to 5).foreach(i => api.writeToModel(df(i), "vac"))
    assert(api.registry.listVersions("vac").size == 5)
    val removed = api.vacuumModel("vac", keep = 2)
    assert(removed == 3)
    val left = api.registry.listVersions("vac")
    assert(left.size == 2)
    assert(left.contains(api.registry.currentPath("vac").get))
    assert(api.ref("vac").head().getLong(0) == 5L)
    intercept[IllegalArgumentException] { api.forHook.vacuumModel("vac") }
  }

  test("compactModel keeps partition-column types (no '01' -> 1 retype)") {
    import org.apache.spark.sql.functions.col
    val api = freshApi()
    api.registry.register(ModelDef("pm", ModelKind.Sql("unused"),
      meta = Map("partition_by" -> "bucket")))
    import spark.implicits._
    val src = (1L to 40L).map(i => (i, f"0${i % 3 + 1}%s")).toDF("id", "bucket")
    api.writeToModel(src, "pm")
    api.compactModel("pm")
    val out = api.ref("pm")
    // without the recorded schema, partition inference would read the
    // zero-padded string values back as ints and drop the leading zero
    assert(out.schema("bucket").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.filter(col("bucket") === "01").count() > 0)
  }

  test("compactModel is blocked in hooks") {
    val api = freshApi()
    api.writeToModel(df(1), "h")
    intercept[IllegalArgumentException] {
      api.forHook.compactModel("h")
    }
  }

  test("ledger records writes as JSON") {
    val api = freshApi()
    api.writeToModel(df(1), "logged")
    val out = Files.createTempDirectory("graft-ledger")
      .resolve("run_results.json")
    api.ledger.writeJson(out.toString)
    val json = Files.readString(out)
    assert(json.contains("\"node\":\"logged\""))
    assert(json.contains("\"status\":\"success\""))
  }

  test("ledger JSON round-trips to statuses (fal-run seed)") {
    val api = freshApi()
    api.writeToModel(df(1), "m1")
    api.ledger.record("m2", Status.Failure, "boom \"quoted\"\nline2")
    val out = Files.createTempDirectory("graft-ledger2")
      .resolve("run_results.json")
    api.ledger.writeJson(out.toString)
    val statuses = RunLedger.loadStatuses(out.toString)
    assert(statuses("m1") == Status.Success)
    assert(statuses("m2") == Status.Failure)
  }

  /** VERDICT r4 #6: append must be metadata-only — the prior version's
    * parquet files stay byte-identical (no rewrite of history) while
    * the union read sees all rows.
    */
  test("append is metadata-only: prior version files untouched, union read complete") {
    import scala.jdk.CollectionConverters._
    val api = freshApi()
    api.writeToModel(df(1, 2), "chain_model")
    val v1 = api.registry.currentPath("chain_model").get
    def parquetBytes(dir: String): Map[String, Seq[Byte]] =
      scala.util.Using.resource(Files.walk(Paths.get(dir))) { w =>
        w.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString ->
            Files.readAllBytes(p).toSeq).toMap
      }
    val before = parquetBytes(v1)
    assert(before.nonEmpty)
    val res = api.writeToModel(df(3), "chain_model", mode = "append")
    assert(res.rowsAffected == 3)
    val v2 = api.registry.currentPath("chain_model").get
    assert(v2 != v1)
    // v2 holds ONLY the increment's files plus the chain link
    assert(Files.exists(Paths.get(v2, "_prev_version")))
    assert(parquetBytes(v1) == before, "append rewrote prior version files")
    assert(api.ref("chain_model").orderBy("my_int")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // second append chains further
    api.writeToModel(df(4), "chain_model", mode = "append")
    assert(api.ref("chain_model").count() == 4)
    assert(parquetBytes(v1) == before)
  }

  test("vacuum never deletes live append-chain members; compact collapses the chain") {
    val api = freshApi()
    api.writeToModel(df(1), "vc")
    api.writeToModel(df(2), "vc", mode = "append")
    api.writeToModel(df(3), "vc", mode = "append")
    // keep=1 would drop v1+v2 by age, but both are live chain members
    assert(api.vacuumModel("vc", keep = 1) == 0)
    assert(api.ref("vc").count() == 3)
    // compaction rewrites the union into one fresh version (no chain)
    api.compactModel("vc")
    val cur = api.registry.currentPath("vc").get
    assert(!Files.exists(Paths.get(cur, "_prev_version")))
    assert(api.ref("vc").orderBy("my_int")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // with the chain collapsed, the old members are vacuumable
    assert(api.vacuumModel("vc", keep = 1) == 3)
    assert(api.ref("vc").count() == 3)
  }

  test("incremental merge and snapshot read through append chains") {
    val api = freshApi()
    api.writeToModel(df(1, 2), "mc")
    api.writeToModel(df(3), "mc", mode = "append")
    // merge replaces key 3 and adds 4 — must see the appended row 3
    api.writeToModelMerge(df(3, 4), "mc", keys = Seq("my_int"))
    assert(api.ref("mc").orderBy("my_int")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  /** VERDICT r4 #4: `--defer --state` (ref `tests/test_cli.py:132-147`)
    * — ref() of a model not materialized in this run resolves from the
    * deferred state root, without rebuilding it.
    */
  test("ref falls back to the deferred state root (--defer --state)") {
    val stateRoot = Files.createTempDirectory("graft-state").toString
    val stateApi = new FalApi(spark, new Registry(stateRoot), new RunLedger)
    stateApi.writeToModel(df(10, 20, 30), "upstream")
    val upV1 = stateApi.registry.currentPath("upstream").get

    val root = Files.createTempDirectory("graft-defer").toString
    val api = new FalApi(spark, new Registry(root), new RunLedger,
      defer = Some(new Registry(stateRoot)))
    // not materialized locally — resolves from state
    assert(api.ref("upstream").count() == 3)
    // a local build from the deferred upstream, upstream NOT rebuilt
    api.writeToModel(
      api.executeSql("SELECT sum(my_int) AS s FROM {{ ref('upstream') }}"),
      "downstream")
    assert(api.ref("downstream").head().getLong(0) == 60L)
    assert(stateApi.registry.currentPath("upstream").get == upV1)
    assert(api.registry.currentPath("upstream").isEmpty)
    // local materializations shadow the deferred state
    api.writeToModel(df(1), "upstream")
    assert(api.ref("upstream").count() == 1)
    // without defer, the same unbuilt ref fails
    val bare = new FalApi(spark, new Registry(
      Files.createTempDirectory("graft-bare").toString), new RunLedger)
    assertThrows[IllegalStateException](bare.ref("upstream"))
  }

  /** VERDICT r4 #7: dbt-format freshness artifact (`sources.json`,
    * parse.py:161-173 shape) round-trip.
    */
  test("freshness artifact writes dbt sources.json shape and parses back") {
    val api = freshApi()
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val srcDir = Files.createTempDirectory("graft-fresh")
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    val stale = java.sql.Timestamp.from(
      java.time.Instant.now().minusSeconds(100 * 3600))
    def write(t: java.sql.Timestamp, dir: String): Unit =
      spark.createDataFrame(
        java.util.List.of(Row(1L, t)),
        StructType(Seq(StructField("id", LongType),
          StructField("loaded_at", TimestampType))))
        .write.mode("overwrite").parquet(dir)
    write(now, srcDir.resolve("fresh").toString)
    write(stale, srcDir.resolve("stale").toString)
    api.registry.register(SourceDef("ext", "fresh",
      srcDir.resolve("fresh").toString, loadedAtField = Some("loaded_at")))
    api.registry.register(SourceDef("ext", "stale",
      srcDir.resolve("stale").toString, loadedAtField = Some("loaded_at")))
    val out = srcDir.resolve("sources.json").toString
    api.writeFreshnessArtifact(out)
    val text = Files.readString(Paths.get(out))
    assert(text.contains("\"max_loaded_at\""))
    assert(text.contains("\"snapshotted_at\""))
    assert(text.contains("\"max_loaded_at_time_ago_in_s\""))
    assert(text.contains("\"criteria\""))
    val statuses = FalApi.readFreshnessStatuses(out)
    assert(statuses("source.graft.ext.fresh") == "pass")
    assert(statuses("source.graft.ext.stale") == "error")
    // and the ledger carries the same verdicts
    assert(api.ledger.statusOf("source.graft.ext.stale")
      .contains(Status.Failure))
  }

  test("ledger and freshness artifacts round-trip ids with a quote, " +
      "a backslash, a tab and a newline") {
    val api = freshApi()
    val odd = "a\"b\\c\td\ne"
    api.ledger.record(s"model.$odd", Status.Failure, s"detail $odd")
    val dir = Files.createTempDirectory("graft-json-escape")
    val ledgerPath = dir.resolve("run_results.json").toString
    api.ledger.writeJson(ledgerPath)
    assert(RunLedger.loadStatuses(ledgerPath) ==
      Map(s"model.$odd" -> Status.Failure))

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val src = dir.resolve("src").toString
    spark.createDataFrame(
        java.util.List.of(Row(1L, java.sql.Timestamp.from(
          java.time.Instant.now()))),
        StructType(Seq(StructField("id", LongType),
          StructField("loaded_at", TimestampType))))
      .write.parquet(src)
    api.registry.register(SourceDef(odd, "t", src,
      loadedAtField = Some("loaded_at")))
    val out = dir.resolve("sources.json").toString
    api.writeFreshnessArtifact(out)
    assert(FalApi.readFreshnessStatuses(out) ==
      Map(s"source.graft.$odd.t" -> "pass"))
  }
  test("every write reports the rows its ref() then reads") {
    import spark.implicits._
    val api = freshApi()
    def parity(name: String)(write: => WriteResult): Unit = {
      val res = write
      assert(res.rowsAffected == api.ref(name).count(), name)
    }
    api.registry.register(ModelDef("rc_part", ModelKind.Sql("unused"),
      meta = Map("partition_by" -> "grp")))
    api.registry.register(ModelDef("rc_bucket", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "id", "buckets" -> "4")))
    val rows = (1L to 40L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    parity("rc_plain")(api.writeToModel(rows, "rc_plain"))
    parity("rc_part")(api.writeToModel(rows, "rc_part"))
    parity("rc_bucket")(api.writeToModel(rows, "rc_bucket"))
    val inc = (35L to 50L).map(i => (i, "g9")).toDF("id", "grp")
    parity("rc_plain")(api.writeToModelMerge(inc, "rc_plain", Seq("id")))
    parity("rc_part")(
      api.writeToModelInsertOverwrite(inc, "rc_part", "grp"))
    val asOf = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    parity("rc_snap")(api.writeToModelSnapshot(rows, "rc_snap", Seq("id"),
      Seq("grp"), asOf))
    parity("rc_snap")(api.writeToModelSnapshot(inc, "rc_snap", Seq("id"),
      Seq("grp"), new java.sql.Timestamp(asOf.getTime + 1000)))
    // a chain append reports the whole chain its version serves
    parity("rc_plain")(api.writeToModel(inc, "rc_plain", mode = "append"))
    parity("rc_plain")(api.compactModel("rc_plain"))
    parity("rc_bucket")(api.compactModel("rc_bucket"))
    // the bucketed append reports its increment
    val before = api.ref("rc_bucket").count()
    val appended = api.appendToBucketedModel(inc, "rc_bucket")
    assert(appended.rowsAffected == 16)
    assert(api.ref("rc_bucket").count() == before + 16)
    // frames with no rows count 0, and the count does not wait forever
    for ((name, empty) <- Seq("rc_empty" -> df(),
        "rc_false" -> rows.filter(lit(false)))) {
      assert(api.writeToModel(empty, name).rowsAffected == 0, name)
      assert(api.ref(name).count() == 0, name)
    }
  }

  test("a plain overwrite is one Spark job: the write counts its rows") {
    val api = freshApi()
    // a narrow plan: a shuffle under it would add its own map-stage job
    val frame = df(1 to 20: _*)
    api.writeToModel(frame, "one_job")
    var res: WriteResult = null
    val jobs = TestSpark.jobsIn("plain-overwrite") {
      res = api.writeToModel(frame, "one_job")
    }
    assert(jobs.size == 1, s"a plain overwrite ran jobs $jobs")
    assert(res.rowsAffected == 20)
    assert(api.ledger.all.exists(_.detail.startsWith(
      "write overwrite rows=20")))
  }
}
