package graft.dev

import graft.SparkEntry

/** dev tool: for every registered query, execute it (noop write) and
  * report (a) per-table FileScan counts in the FINAL adaptive plan and
  * (b) unpartitioned logical Window nodes — the raw material for
  * LibraryGateSpec's library-wide whitelists. */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val tableRe = "([a-z_]+)\\.parquet".r
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        df.write.format("noop").mode("overwrite").save()
        val p = df.queryExecution.executedPlan.toString()
        val scans = tableRe.findAllMatchIn(p).map(_.group(1)).toSeq
          .groupBy(identity).map { case (t, xs) => s"$t=${xs.size}" }
          .toSeq.sorted.mkString(",")
        println(s"AUDIT $n win=$wins scans=$scans")
      } catch { case e: Throwable =>
        println(s"AUDIT $n ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}
