package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api._
import graft.plans._

/** End-to-end pipeline drive — the rebuild of the reference's
  * `simple_project` fixture chain (SQL → SQL → Scala model →
  * incremental; `/root/reference/projects/adapter/integration_tests/
  * projects/simple_project/`) over the driver testdata, with hooks and
  * a write-blocked after-script. Run with:
  *   sbt "runMain graft.PipelineDemo [sfDir]"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftConf.session()

    val root = Files.createTempDirectory("graft-demo").toString
    val registry = new Registry(root)
    val api = new FalApi(spark, registry, new RunLedger)

    // sources = the driver parquet tables
    registry.register(SourceDef("warehouse", "orders",
      s"$sfDir/orders.parquet"))
    registry.register(SourceDef("warehouse", "customer",
      s"$sfDir/customer.parquet"))

    // model_a: SQL staging over a source
    registry.register(ModelDef("stg_orders", ModelKind.Sql(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(o_orderdate AS DATE) AS order_date
        |FROM {{ source('warehouse', 'orders') }}""".stripMargin)))
    // model_b: SQL rollup over model_a (jaffle customers shape)
    registry.register(ModelDef("customer_orders", ModelKind.Sql(
      """SELECT o_custkey AS customer_id,
        |       min(order_date) AS first_order,
        |       max(order_date) AS most_recent_order,
        |       count(o_orderkey) AS number_of_orders,
        |       sum(o_totalprice) AS total_spent
        |FROM {{ ref('stg_orders') }}
        |GROUP BY o_custkey""".stripMargin),
      deps = Seq("stg_orders")))
    // model_c: Scala model function (ref D1 `def model(dbt, fal)`)
    registry.register(ModelDef("top_customers", ModelKind.Scala(
      (s, a) => a.ref("customer_orders")
        .join(a.source("warehouse", "customer"),
          col("customer_id") === col("c_custkey"))
        .select(col("customer_id"), col("c_name"), col("total_spent"))
        .orderBy(col("total_spent").desc)
        .limit(10)),
      deps = Seq("customer_orders")))

    val hookLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val config = Runner.RunConfig(
      scripts = Seq(NodeGraph.ScriptAttachment("top_customers",
        "notify.scala", before = false)),
      scriptFns = Map(
        NodeGraph.afterScriptId("top_customers", "notify.scala") ->
          ((hookApi: FalApi, _: Map[String, String]) => {
            val n = hookApi.ref("top_customers").count()
            hookLog.add(s"after-script saw $n rows"); ()
          })),
      preHooks = Map("customer_orders" -> Seq("check_inputs")),
      postHooks = Map("customer_orders" -> Seq("announce")),
      hookFns = Map(
        "check_inputs" -> ((a, _) => {
          hookLog.add(s"pre-hook: sources ok (${a.listSources.size})"); ()
        }),
        "announce" -> ((_, _) => { hookLog.add("post-hook: done"); () })))

    val status = Runner.run(api, config)
    println(s"PIPELINE_STATUS=$status")
    println(s"MODEL_STATUSES=${api.listModelIds.toSeq.sorted.mkString(",")}")
    hookLog.forEach(l => println(s"HOOK: $l"))
    val top = api.ref("top_customers")
    top.show(5, truncate = false)
    println(s"TOP_ROWS=${top.count()}")
    api.ledger.writeJson(s"$root/run_results.json")
    println(s"LEDGER=${Files.readString(
      java.nio.file.Paths.get(s"$root/run_results.json"))}")
    spark.stop()
  }
}
