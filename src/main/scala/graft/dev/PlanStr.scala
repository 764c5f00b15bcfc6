package graft.dev

import graft.SparkEntry

/** dev tool: dump the EXECUTED plan string (incl. WholeStageCodegen
  * spans, which explain("formatted") omits) for named queries. */
object PlanStr {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.builder(4)
      // AQE wraps the plan in AdaptiveSparkPlanExec, which hides
      // WholeStageCodegen spans from toString/debugCodegen until the
      // final plan — disable it for this diagnostic dump only
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      println(s"\n########## $n ##########")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // debugCodegen prints each WholeStageCodegen subtree with its
      // generated code — the ground truth for "is this codegen'd"
      import org.apache.spark.sql.execution.debug._
      val cg = df.queryExecution.debug.codegenToSeq()
      println(s"codegen subtrees: ${cg.size}")
      cg.zipWithIndex.foreach { case ((subtree, code, stats), i) =>
        println(s"--- subtree $i (${code.length} chars, $stats) ---")
        println(subtree.linesIterator.take(6).mkString("\n"))
        if (sys.env.contains("SPARK_GRAFT_DUMPCODE")) {
          val f = s"/tmp/codegen_${n}_$i.java"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(f), code)
          println(s"code -> $f")
        }
      }
      val p = df.queryExecution.executedPlan.toString
      println(p)
    }
    spark.stop()
  }
}
