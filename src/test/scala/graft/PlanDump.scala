package graft

/** Dev utility: print the formatted physical plans of registered
  * queries at the spec SF — for auditing scan pushdown, join strategies
  * and exchange placement when a shuffle-budget pin surprises. Names
  * are comma-separated; with none it dumps the headline queries.
  * `sbt "Test/runMain graft.PlanDump [name,name,...] [sfDir]"` */
object PlanDump {
  private val headline = Seq("q1_pricing_summary", "q6_revenue_change",
    "q3_shipping_priority", "q5_local_supplier", "ev_sessionize",
    "dedup_minhash", "sim_topk_exact")

  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-plandump")
    val sf = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    args.headOption.fold(headline)(_.split(",").toSeq).foreach { name =>
      println(s"\n======== $name ========")
      SparkEntry.queries(name)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
