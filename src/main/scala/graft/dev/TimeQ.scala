package graft.dev

import graft.SparkEntry

/** dev tool: min-of-3 timing of named queries, with optional extra
  * session confs (`SPARK_GRAFT_CONF="k=v;k=v"`) — for A/B'ing codegen
  * and planner settings outside the full Bench harness. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val b = graft.Session.builder(cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); b.config(k, v)
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      val times = (1 to 3).map { _ =>
        graft.operators.Dedup.clearShared()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n: min=${times.min}%.3f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
