package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.SparkContext

/** A fixed job mix, independent of graft's code, run in the same JVM as
  * the passes to measure how fast the host is right now. On a shared
  * 4-core VM (OpenJDK 17, Spark 4.1.2) the host's speed moved by up to 3x
  * within an hour, uniformly over set-up, warm-up and passes, far more
  * than a code change to be judged. The wall-clock metrics are therefore
  * reported at a reference host speed: multiplied by the reference anchor
  * time over the measured one. CPU time is left as measured: it moved far
  * less, and the anchor's own CPU time was too unsteady to scale it by.
  *
  * The mix uses the RDD API only, so it never goes through Catalyst, the
  * graft session extensions (optimizer rules, planner strategies) or any
  * other graft code: a change to the program cannot move the anchor
  * through query planning. It mirrors what the passes are made of: many
  * short jobs (scheduling), a one-task CPU stage (a one-row-group scan)
  * and a parallel stage with a shuffle. */
object Anchor {
  /** Anchor wall seconds the metrics are scaled to, close to what the
    * fastest of [[Reps]] runs of the mix takes on that 4-core VM in a
    * calm period (0.45 s). */
  val RefWallS = 0.45

  /** SHA-256 of the decimal ids in [from, until), summed per bucket
    * (id % 2000) in a primitive array: CPU work with little garbage, so
    * the anchor's own GC pauses do not add noise to it. */
  private def hashSums(from: Long, until: Long): Array[Long] = {
    val md = MessageDigest.getInstance("SHA-256")
    val acc = new Array[Long](2000)
    var id = from
    while (id < until) {
      val d = md.digest(java.lang.Long.toString(id).getBytes(StandardCharsets.UTF_8))
      acc((id % 2000).toInt) += d(0) & 0xff
      id += 1
    }
    acc
  }

  private def mix(sc: SparkContext, cores: Int): Unit = {
    (1 to 8).foreach(i => sc.parallelize(Seq(i), 1).map(_ * 2).collect())
    sc.parallelize(Seq(0), 1).map(_ => hashSums(0, 300000).sum).collect()
    val perTask = 300000L
    sc.parallelize(0 until cores, cores)
      .flatMap(t => hashSums(t * perTask, (t + 1) * perTask).zipWithIndex.map(_.swap))
      .reduceByKey(_ + _, cores).values.sum()
  }

  /** Runs of the mix per measurement. A background thread, a GC pause
    * or a scheduler hiccup only ever slows a run down, so the fastest of
    * a few runs is the least noisy reading of the host's speed. */
  val Reps = 3

  /** One anchor measurement: the fastest of [[Reps]] runs of the mix,
    * in wall seconds. */
  def measure(sc: SparkContext, cores: Int): Double =
    (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      mix(sc, cores)
      (System.nanoTime() - t0) / 1e9
    }.min
}
