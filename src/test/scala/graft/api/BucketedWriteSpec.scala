package graft.api

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The write-path half of the bucketing story: a model whose meta
  * declares `bucket_by` materializes as a bucketed table version, and
  * `ref` joins between co-bucketed models plan WITHOUT a shuffle
  * exchange (BucketedJoinSpec proves the raw plan property; this spec
  * proves the registry wiring — write, pointer swap, re-resolution).
  */
class BucketedWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucket_by meta gives shuffle-free ref-to-ref joins across versions") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bw").toString
    val reg = new Registry(root)
    val api = new FalApi(spark, reg, new RunLedger)
    reg.register(ModelDef("bw_orders", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "4")))
    reg.register(ModelDef("bw_lines", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "4")))

    api.writeToModel((1L to 500L).map(i => (i, s"o$i")).toDF("key", "o"),
      "bw_orders")
    api.writeToModel(
      (1L to 2500L).map(i => (i % 500 + 1, s"l$i")).toDF("key", "l"),
      "bw_lines")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = api.ref("bw_orders").join(api.ref("bw_lines"), "key")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed ref join should not shuffle:\n$plan")
      assert(j.count() == 2500)

      // overwrite makes a new bucketed version; ref follows the pointer
      api.writeToModel((1L to 600L).map(i => (i, s"n$i")).toDF("key", "o"),
        "bw_orders")
      val j2 = api.ref("bw_orders").join(api.ref("bw_lines"), "key")
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(api.ref("bw_orders").count() == 600)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("appendToBucketedModel is O(increment), keeps bucket locality, " +
      "and commits pointer meta atomically (VERDICT r11 #1)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ab").toString
    val reg = new Registry(root)
    val api = new FalApi(spark, reg, new RunLedger)
    reg.register(ModelDef("ab_m", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "4")))
    api.writeToModel((1L to 400L).map(i => (i, s"v$i")).toDF("key", "v"),
      "ab_m")
    val cur = reg.currentPath("ab_m").get
    val res = api.appendToBucketedModel(
      (401L to 500L).map(i => (i, s"v$i")).toDF("key", "v"), "ab_m",
      Map("fp" -> "advanced"))
    // same version dir (in-place bucket-aligned append); rowsAffected
    // reports the INCREMENT (an O(batch) count — a total-rows count
    // would scan the whole accumulated model per append)
    assert(reg.currentPath("ab_m").contains(cur))
    assert(res.rowsAffected == 100 && api.ref("ab_m").count() == 500)
    assert(reg.pointerMeta("ab_m").get("fp").contains("advanced"))
    // bucket locality survives the multi-file-per-bucket layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = api.ref("ab_m").groupBy("key").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"post-append bucket aggregation should not shuffle:\n$plan")
      assert(agg.count() == 500)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // schema mismatch fails loudly, un-bucketed target is rejected
    intercept[IllegalArgumentException] {
      api.appendToBucketedModel(Seq((1L, 1L)).toDF("key", "wrong"), "ab_m")
    }
    reg.register(ModelDef("ab_plain", ModelKind.Sql("unused")))
    api.writeToModel(Seq((1L, "x")).toDF("key", "v"), "ab_plain")
    intercept[IllegalArgumentException] {
      api.appendToBucketedModel(Seq((2L, "y")).toDF("key", "v"),
        "ab_plain")
    }
  }

  test("a compaction racing an in-place append aborts instead of " +
      "dropping the increment (ADVICE r12 content-pinned swap)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_race").toString
    val reg = new Registry(root)
    val api = new FalApi(spark, reg, new RunLedger)
    reg.register(ModelDef("race_m", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "4")))
    api.writeToModel((1L to 100L).map(i => (i, s"v$i")).toDF("key", "v"),
      "race_m")

    // the compaction side reads its base (what compactModel pins) ...
    val base = reg.pointerContent("race_m").get
    val target = reg.nextVersionDir("race_m")
    // ... then an append lands inside its read-to-commit window. The
    // version NAME does not change (in-place append), so only the
    // pointer CONTENT can witness it — append_seq guarantees even a
    // meta-less append changes the content
    val seq0 = reg.pointerMeta("race_m").get("append_seq")
    api.appendToBucketedModel(
      (101L to 120L).map(i => (i, s"v$i")).toDF("key", "v"), "race_m")
    assert(reg.currentVersion("race_m").map(_.trim) ==
      Some(base.linesIterator.next().trim),
      "fixture must exercise the version-name-preserving append")
    assert(reg.pointerMeta("race_m").get("append_seq") != seq0)

    // the compaction's content-pinned swap must now abort ...
    intercept[SwapConflictException] {
      reg.swapPointer("race_m", target, expectedContent = Some(base))
    }
    // ... leaving the appended rows live (nothing dropped)
    assert(api.ref("race_m").count() == 120)
    // and a REAL compaction from the post-append state succeeds,
    // content preserved
    assert(api.compactModel("race_m").rowsAffected == 120)
    assert(api.ref("race_m").count() == 120)
  }

  test("partition_by meta gives pruned scans through ref") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pw").toString
    val reg = new Registry(root)
    val api = new FalApi(spark, reg, new RunLedger)
    reg.register(ModelDef("pw_events", ModelKind.Sql("unused"),
      meta = Map("partition_by" -> "day")))
    api.writeToModel(
      (1L to 300L).map(i => (i, s"d${i % 3}", i * 1.5)).toDF("id", "day", "v"),
      "pw_events")
    val q = api.ref("pw_events").filter($"day" === "d1")
    val scan = q.queryExecution.executedPlan.toString
    // the filter must land in PartitionFilters (directory pruning),
    // not as a post-scan row filter over all partitions
    assert(scan.contains("PartitionFilters") && scan.contains("day#"),
      s"expected partition pruning in scan:\n$scan")
    assert(q.count() == 100)
    assert(api.ref("pw_events").count() == 300)
  }

  test("ref survives catalog loss by re-registering the bucketed table") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bl").toString
    val reg = new Registry(root)
    val api = new FalApi(spark, reg, new RunLedger)
    reg.register(ModelDef("bl_orders", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "4")))
    reg.register(ModelDef("bl_lines", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "4")))
    api.writeToModel((1L to 200L).map(i => (i, s"o$i")).toDF("key", "o"),
      "bl_orders")
    api.writeToModel((1L to 400L).map(i => (i % 200 + 1, s"l$i"))
      .toDF("key", "l"), "bl_lines")

    // simulate a JVM restart: the in-memory catalog forgets the tables
    // while the registry pointer + parquet + marker files persist
    def markerTable(model: String): String =
      FalApi.bucketMarker(reg.currentPath(model).get).get._1
    val tbl = markerTable("bl_orders")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.sql(s"DROP TABLE IF EXISTS `${markerTable("bl_lines")}`")

    // meta drifting after the write must NOT change the re-registered
    // spec — the marker records what the files were written with
    reg.register(ModelDef("bl_orders", ModelKind.Sql("unused"),
      meta = Map("bucket_by" -> "key", "buckets" -> "16")))

    assert(api.ref("bl_orders").count() == 200) // re-registered, readable
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED `$tbl`").collect()
      .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("Num Buckets 4"),
      s"re-registered spec must match the written files:\n$desc")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // ...and the recreated table keeps the bucket spec: still no shuffle
      val j = api.ref("bl_orders").join(api.ref("bl_lines"), "key")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-registered bucketed join should not shuffle:\n$plan")
      assert(j.count() == 400)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("writes report output-file skew stats in the ledger") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_skew").toString
    val reg = new Registry(root)
    val ledger = new RunLedger
    val api = new FalApi(spark, reg, ledger)
    api.writeToModel(
      (1L to 100L).map(i => (i, i * 2)).toDF("k", "v").repartition(4),
      "skewed")
    val detail = ledger.all.find(_.node == "skewed").get.detail
    assert(detail.contains("files=") && detail.contains("maxBytes="),
      s"expected skew stats in ledger detail, got: $detail")
  }

  test("same model name in two storage roots keeps both readable") {
    import spark.implicits._
    // The catalog is session-global; without a per-root component in
    // the bucketed table name, the second root's write would repoint
    // the first root's marker-named table at the new data.
    def mk(): (Registry, FalApi) = {
      val reg = new Registry(Files.createTempDirectory("graft_bw2").toString)
      reg.register(ModelDef("bw_shared", ModelKind.Sql("unused"),
        meta = Map("bucket_by" -> "key", "buckets" -> "4")))
      (reg, new FalApi(spark, reg, new RunLedger))
    }
    val (_, apiA) = mk()
    val (_, apiB) = mk()
    apiA.writeToModel(Seq((1L, "rootA")).toDF("key", "who"), "bw_shared")
    apiB.writeToModel(Seq((1L, "rootB")).toDF("key", "who"), "bw_shared")
    // revisiting the FIRST root must still read the first root's data
    assert(apiA.ref("bw_shared").select("who").as[String].collect()
      .toSeq == Seq("rootA"))
    assert(apiB.ref("bw_shared").select("who").as[String].collect()
      .toSeq == Seq("rootB"))
  }
}
