package graft

import org.apache.spark.sql.functions._

/** Dev-only probe for the storage-partitioned-join scan surface: builds
  * two partition-tagged commit-log tables over testdata, turns the SPJ
  * flags on, and prints the executed plans of (a) a partition-keyed
  * join and (b) a partition-keyed aggregation — the point is whether a
  * ShuffleExchange appears above the graft scans. Not part of any
  * declared surface; throwaway instrumentation like DevProfile. */
object DevSpj {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("dev-spj")
    import spark.implicits._
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val wh = java.nio.file.Files.createTempDirectory("spj-wh").toString
    spark.conf.set("spark.sql.catalog.gspj", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gspj.warehouse", wh)
    spark.conf.set("spark.graft.spj.preserveDataGrouping", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey", $"l_quantity",
        $"l_extendedprice", $"l_returnflag")
    li.writeTo("gspj.a").tableProperty("merge.keys", "l_orderkey,l_partkey,l_returnflag")
      .tableProperty("merge.partcol", "l_returnflag").create()
    li.groupBy($"l_returnflag").agg(sum($"l_quantity").as("q"))
      .writeTo("gspj.b").tableProperty("merge.keys", "l_returnflag")
      .tableProperty("merge.partcol", "l_returnflag").create()

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = spark.table("gspj.a").join(spark.table("gspj.b"), "l_returnflag")
      .groupBy($"l_returnflag").agg(sum($"l_quantity" * $"q").as("s"))
    println("=== JOIN plan ===")
    j.explain()
    val shuffles = j.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    println(s"Exchange count in join plan: $shuffles")
    j.orderBy("l_returnflag").show()

    val agg = spark.table("gspj.a").groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"))
    println("=== AGG plan ===")
    agg.explain()
    println("Exchange count in agg plan: " + agg.queryExecution.executedPlan
      .toString.linesIterator.count(_.contains("Exchange")))
    agg.orderBy("l_returnflag").show()

    // sanity: same result with the flag off
    spark.conf.set("spark.graft.spj.preserveDataGrouping", "false")
    val off = spark.table("gspj.a").join(spark.table("gspj.b"), "l_returnflag")
      .groupBy($"l_returnflag").agg(sum($"l_quantity" * $"q").as("s"))
    off.orderBy("l_returnflag").show()
    spark.stop()
  }
}
