package graft.api

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A3 — one DataSource code path for every source format (the
  * reference needed seven backend-specific readers; SURVEY.md §2a).
  */
class SourceFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshApi(): FalApi = {
    val root = Files.createTempDirectory("graft-srcfmt").toString
    new FalApi(spark, new Registry(root), new RunLedger)
  }

  test("csv source with header + schema inference") {
    val api = freshApi()
    val dir = Files.createTempDirectory("graft-csv")
    Files.writeString(dir.resolve("data.csv"), "id,name\n1,a\n2,b\n")
    api.registry.register(SourceDef("files", "csv_feed", dir.toString,
      format = "csv",
      options = Map("header" -> "true", "inferSchema" -> "true")))
    val out = api.source("files", "csv_feed").orderBy("id").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("json-lines source") {
    val api = freshApi()
    val dir = Files.createTempDirectory("graft-json")
    Files.writeString(dir.resolve("data.json"),
      """{"id": 1, "v": 0.5}
        |{"id": 2, "v": 1.5}""".stripMargin)
    api.registry.register(SourceDef("files", "json_feed", dir.toString,
      format = "json"))
    val out = api.source("files", "json_feed").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.5), (2L, 1.5)))
  }

  test("orc source round-trips (columnar alternative to parquet)") {
    val api = freshApi()
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orc")
    Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "s", "v")
      .write.mode("overwrite").orc(dir.resolve("t").toString)
    api.registry.register(SourceDef("files", "orc_feed",
      dir.resolve("t").toString, format = "orc"))
    val out = api.source("files", "orc_feed").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "a", 0.5), (2L, "b", 1.5)))
    // pushdown survives the source indirection on ORC too
    val plan = api.source("files", "orc_feed").filter($"id" === 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && !plan.contains(
      "PushedFilters: []"), s"expected ORC pushdown:\n$plan")
  }

  test("binaryFile source feeds the multimodal path-pointer pattern") {
    // E8's opaque-blob layer: register a directory of raw files as a
    // source; the scan yields (path, modificationTime, length, content)
    // with content a BinaryType column — the same shape the multimodal
    // decode/resize steps consume. The format string is the only knob
    // (A3's single-DataSource path), and pathGlobFilter prunes at the
    // listing, not after the read.
    val api = freshApi()
    val dir = Files.createTempDirectory("graft-bin")
    Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("b.img"), Array[Byte](9, 8))
    Files.writeString(dir.resolve("ignore.txt"), "not a blob")
    api.registry.register(SourceDef("files", "blobs", dir.toString,
      format = "binaryFile",
      options = Map("pathGlobFilter" -> "*.img")))
    val out = api.source("files", "blobs")
      .selectExpr("path", "length", "content").orderBy("length")
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 4L))
    assert(out(1).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3, 4))
    assert(out.forall(_.getString(0).endsWith(".img")))
  }

  test("jdbc source reads an external database table (path-less format)") {
    // A3's external-database leg: an embedded Derby table (the driver
    // ships with Spark) registered as format=jdbc with url/dbtable in
    // options and an EMPTY path — `source` then reads purely from
    // options, the same single-DataSource code path as every file
    // format. This is the reference's Redshift/BigQuery/Trino source
    // matrix collapsed to one reader.
    val api = freshApi()
    val dbDir = Files.createTempDirectory("graft-jdbc")
    val url = s"jdbc:derby:${dbDir.resolve("extdb")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ext_orders (id INT, status VARCHAR(8))")
      st.execute("INSERT INTO ext_orders VALUES (1, 'open'), " +
        "(2, 'closed'), (3, 'open')")
      st.close()
    } finally conn.close()
    api.registry.register(SourceDef("warehouse", "ext_orders", path = "",
      format = "jdbc",
      options = Map("url" -> url, "dbtable" -> "EXT_ORDERS",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")))
    val src = api.source("warehouse", "ext_orders")
    val out = src.orderBy("ID").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "open"), (2, "closed"), (3, "open")))
    // predicate pushdown reaches the database, not a post-scan filter:
    // JDBCScan lists the pushed predicate in the executed plan
    val plan = src.filter(src("STATUS") === "open")
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(STATUS,open)"),
      s"expected the status filter pushed into the JDBC scan:\n$plan")
  }

  test("jdbc source parallelizes with bounded-read partition options") {
    // A3 at scale (VERDICT r9 #8): the reference's per-warehouse bulk
    // readers (lib.py:539-558) become Spark's partitioned JDBC scan —
    // partitionColumn/bounds/numPartitions on the SourceDef open one
    // cursor per stride, so an external-DB table scans in parallel
    // instead of through a single connection.
    val api = freshApi()
    val dbDir = Files.createTempDirectory("graft-jdbc-part")
    val url = s"jdbc:derby:${dbDir.resolve("pdb")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE big_orders (id INT, qty INT)")
      (1 to 40).grouped(8).foreach { g =>
        st.execute("INSERT INTO big_orders VALUES " +
          g.map(i => s"($i, ${i * 3})").mkString(", "))
      }
      st.close()
    } finally conn.close()
    api.registry.register(SourceDef("warehouse", "big_orders", path = "",
      format = "jdbc",
      options = Map("url" -> url, "dbtable" -> "BIG_ORDERS",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
        "partitionColumn" -> "ID", "lowerBound" -> "1",
        "upperBound" -> "41", "numPartitions" -> "4")))
    val src = api.source("warehouse", "big_orders")
    // the scan itself fans out: one input partition per id stride
    assert(src.rdd.getNumPartitions == 4,
      s"expected 4 bounded JDBC partitions, got ${src.rdd.getNumPartitions}")
    assert(src.count() == 40)
    assert(src.agg(org.apache.spark.sql.functions.sum("QTY"))
      .head.getLong(0) == (1 to 40).map(_ * 3).sum)
  }

  test("jdbc write-back: source -> transform -> writeToSource round-trip") {
    // A6's external-DB leg (VERDICT r8 #5): read a jdbc source, run a
    // transform as a model, write the result BACK to the external
    // database through the same path-less writeToSource branch the
    // file formats use. This is the reference's `write_to_source` on a
    // warehouse backend (lib.py:539-558 readers + the write twin).
    val api = freshApi()
    val dbDir = Files.createTempDirectory("graft-jdbc-wb")
    val url = s"jdbc:derby:${dbDir.resolve("wbdb")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE raw_orders (id INT, qty INT)")
      st.execute("INSERT INTO raw_orders VALUES (1, 5), (2, 7), (1, 3)")
      st.close()
    } finally conn.close()
    api.registry.register(SourceDef("warehouse", "raw_orders", path = "",
      format = "jdbc",
      options = Map("url" -> url, "dbtable" -> "RAW_ORDERS",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")))
    // the write target is its own SourceDef: jdbc writes create the
    // table on overwrite, so no DDL is needed up front
    api.registry.register(SourceDef("warehouse", "order_totals",
      path = "", format = "jdbc",
      options = Map("url" -> url, "dbtable" -> "ORDER_TOTALS",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")))

    val totals = api.source("warehouse", "raw_orders")
      .groupBy("ID").agg(org.apache.spark.sql.functions.sum("QTY")
        .cast("int").as("TOTAL_QTY"))
    val res = api.writeToSource(totals, "warehouse", "order_totals",
      mode = "overwrite")
    assert(res.rowsAffected == 2)
    val back = api.source("warehouse", "order_totals")
      .orderBy("ID").collect()
    assert(back.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 8), (2, 7)))
  }

  test("write_to_source round-trips through the declared format") {
    val api = freshApi()
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-wsrc")
    api.registry.register(SourceDef("files", "out_csv",
      dir.resolve("out").toString, format = "csv",
      options = Map("header" -> "true", "inferSchema" -> "true")))
    api.writeToSource(Seq((1, "x"), (2, "y")).toDF("id", "s"),
      "files", "out_csv", mode = "overwrite")
    val back = api.source("files", "out_csv").orderBy("id").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "x"), (2, "y")))
  }

  test("write_to_source reports the rows it wrote, in one job") {
    val api = freshApi()
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-wsrc-count")
    api.registry.register(SourceDef("files", "events",
      dir.resolve("events").toString, format = "parquet"))
    api.writeToSource(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      "files", "events", mode = "overwrite")
    val row = Seq((3L, "c")).toDF("id", "s")
    var res: WriteResult = null
    val jobs = TestSpark.jobsIn("source-append") {
      res = api.writeToSource(row, "files", "events")
    }
    assert(res.rowsAffected == 1, s"a 1-row append reported $res")
    assert(jobs.size == 1, s"a 1-row append ran jobs $jobs")
    assert(api.source("files", "events").count() == 3)
    // an ignored write runs no job to count: it reports the target
    assert(api.writeToSource(row, "files", "events", mode = "ignore")
      .rowsAffected == 3)
  }
}
