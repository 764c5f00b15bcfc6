package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, GeoOps, GeoProj, IngestOps, TextOps}
import graft.sources.{DatasetsSink, PubSubSink}
import graft.streaming.ServiceLoop

/** What one untraced pass did: operations attempted and failed. */
final case class PassOutcome(attempted: Int, failed: Int)

/** One DuckDB check that runs after the JVM, over the same input files
  * (`views`). With `minCcRounds` = 0, `sql` evaluated over `views` must
  * equal the rows under `path`. Otherwise `sql` yields the near-dup pair
  * graph, and min-label propagation over it must need at least
  * `minCcRounds` rounds (the corpus_dedup mechanism guard). */
final case class OracleCheck(name: String, sql: String, path: String, hive: Boolean,
    views: Map[String, String], minCcRounds: Int = 0)

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** Opens spans around layer calls: one job group per span, and the
  * span's totals read from the [[GroupListener]] once the run ends. */
final class Tracer(spark: SparkSession, cores: Int) {
  val listener = new GroupListener
  private val spans = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Seq[String])]
  private val rows = scala.collection.mutable.Map.empty[String, Observation]

  /** Runs `body` as span `name`; extra job groups (a streaming run id)
    * can be attached to the span afterwards with [[attach]]. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      spans(name) = (wall, Seq(name))
    }
  }

  def attach(name: String, group: String): Unit =
    spans.get(name).foreach { case (w, gs) => spans(name) = (w, gs :+ group) }

  /** `df` with a row counter that reports to span `name`. */
  def counted(name: String, df: DataFrame): DataFrame = {
    val obs = Observation(s"rows_${name.replace('.', '_')}")
    rows(name) = obs
    df.observe(obs, count(lit(1)).as("n"))
  }

  def wall(name: String): Double = spans(name)._1

  /** The eight metrics of every recorded span. */
  def metrics(): Seq[(String, Metric)] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spans.toSeq.flatMap { case (name, (wall, groups)) =>
      val ts = groups.map(listener.get)
      val runSec = ts.map(_.taskRunMs).sum / 1000.0
      val rowsOut = rows.get(name).map { o =>
        try Await.result(o.future, 30.seconds).getLong(0).toDouble
        catch { case _: Throwable => -1.0 }
      }.getOrElse(0.0)
      Seq(
        s"$name.wall_s" -> Metric(wall, "s"),
        s"$name.jobs" -> Metric(ts.map(_.jobs).sum, "count"),
        s"$name.stages" -> Metric(ts.map(_.stages).sum, "count"),
        s"$name.task_cpu_s" -> Metric(ts.map(_.taskCpuNs).sum / 1e9, "s"),
        s"$name.idle_core_s" -> Metric(wall * cores - runSec, "s"),
        s"$name.shuffle_bytes" -> Metric(ts.map(_.shuffleBytes).sum, "bytes"),
        s"$name.spill_bytes" -> Metric(ts.map(_.spillBytes).sum, "bytes"),
        s"$name.rows_out" -> Metric(rowsOut, "rows"))
    }
  }
}

/** Layers the traced run drives: seeded inputs, a traced pass with
  * per-layer spans, and the checks on that pass's output. */
trait TracedLayers {
  def name: String
  /** Writes the seeded inputs under `in`; returns their properties. */
  def generate(spark: SparkSession, in: String, seed: Long): Map[String, Any]
  /** In-JVM output checks of one pass; returns the mismatches. */
  def check(spark: SparkSession, in: String, out: String, props: Map[String, Any]): Seq[String]
  /** The traced pass and the per-layer spans. Returns the traced pass's
    * wall seconds and the per-layer metrics. */
  def traced(spark: SparkSession, in: String, out: String, props: Map[String, Any],
      t: Tracer): (Double, Seq[(String, Metric)])
}

/** A benchmark workload: traced layers plus the untraced pass that is
  * timed (the same work as the traced pass) and its oracle checks. */
trait Workload extends TracedLayers {
  /** Input rows per pass (events or documents). */
  def inputRows(props: Map[String, Any]): Long
  def pass(spark: SparkSession, in: String, out: String, props: Map[String, Any]): PassOutcome
  /** A fingerprint of the pass output: every pass must give the same. */
  def fingerprint(spark: SparkSession, out: String): String
  def oracles(in: String, out: String): Seq[OracleCheck]
}

object Workload {
  def byName(n: String): Option[Workload] = timed.find(_.name == n)
  /** The workloads `--workload` names, each timed untraced. */
  val timed: Seq[Workload] = Seq(GeoBacklog, CorpusDedup)
  /** What every traced run drives, whichever workload it names. */
  val traced: Seq[TracedLayers] = timed :+ ServiceLoopLayers

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def attempt(f: => Unit): Int =
    try { f; 0 }
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] operation failed: $e")
      1
    }

  /** Order-insensitive fingerprint of a parquet output: row count and
    * the sum of per-row hashes. */
  def parquetPrint(spark: SparkSession, path: String): String = {
    val df = spark.read.parquet(path)
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
  }
}

object GeoBacklog extends Workload {
  import Workload._
  val name = "geo_backlog"

  def generate(spark: SparkSession, in: String, seed: Long): Map[String, Any] =
    Gen.geoBacklog(spark, in, seed)

  def inputRows(props: Map[String, Any]): Long = props("events").asInstanceOf[Long]

  private def publish(df: DataFrame, out: String): Unit =
    DatasetsSink.writePartitioned(df, s"$out/layers")
  private def raster(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(s"$out/raster")

  def pass(spark: SparkSession, in: String, out: String, props: Map[String, Any]): PassOutcome = {
    val f1 = attempt(publish(GeoOps.qGeoE2e(spark, in), out))
    val f2 = attempt(raster(GeoOps.qRasterE2e(spark, in), out))
    PassOutcome(2, f1 + f2)
  }

  def check(spark: SparkSession, in: String, out: String, props: Map[String, Any]): Seq[String] = {
    // every vector-routed event lands in exactly one user's layer as a
    // kept, dropped or unprojectable feature
    val vector = Tables.events(spark, in)
      .filter(col("event_id") % 10 === 3 || col("event_id") % 10 === 4 || col("event_id") % 10 === 8)
      .count()
    val l = spark.read.parquet(s"$out/layers")
      .agg(sum(col("n_features") + col("n_dropped") + col("n_unprojectable"))).head().getLong(0)
    if (l == vector) Nil else Seq(s"geo layers account for $l features, $vector vector events routed")
  }

  def fingerprint(spark: SparkSession, out: String): String =
    parquetPrint(spark, s"$out/layers") + "/" + parquetPrint(spark, s"$out/raster")

  def oracles(in: String, out: String): Seq[OracleCheck] = {
    val views = Map("events" -> s"$in/events.parquet", "part" -> s"$in/part.parquet")
    Seq(
      OracleCheck("q_geo_e2e", graft.SparkEntry.oracleSql("q_geo_e2e"), s"$out/layers", hive = true, views),
      OracleCheck("q_raster_e2e", graft.SparkEntry.oracleSql("q_raster_e2e"), s"$out/raster", hive = false, views))
  }

  def traced(spark: SparkSession, in: String, out: String, props: Map[String, Any],
      t: Tracer): (Double, Seq[(String, Metric)]) = {
    // the traced pass: the untraced pass's two calls, one span each
    t.span("DatasetsSink.publish")(publish(t.counted("DatasetsSink.publish", GeoOps.qGeoE2e(spark, in)), out))
    t.span("GeoOps.raster_e2e")(raster(t.counted("GeoOps.raster_e2e", GeoOps.qRasterE2e(spark, in)), out))
    val passWall = t.wall("DatasetsSink.publish") + t.wall("GeoOps.raster_e2e")
    // the layers the vector plan fuses, each called on its own
    t.span("Tables.events_scan")(noop(t.counted("Tables.events_scan", Tables.events(spark, in))))
    t.span("IngestOps.route")(noop(t.counted("IngestOps.route", IngestOps.qRouteFormat(spark, in))))
    t.span("GeoProj.reproject")(noop(t.counted("GeoProj.reproject", GeoProj.qReprojectDispatch(spark, in))))
    t.span("GeoOps.geo_e2e")(noop(t.counted("GeoOps.geo_e2e", GeoOps.qGeoE2e(spark, in))))
    (passWall, t.metrics())
  }
}

object CorpusDedup extends Workload {
  import Workload._
  val name = "corpus_dedup"
  /** The shipped sf0.1 corpus converges in one CC round; the workload
    * must need many more, or a change to the CC loop could not show. The
    * guard runs on the oracle's pair graph (see [[OracleCheck]]). */
  val MinCcRounds = 4

  def generate(spark: SparkSession, in: String, seed: Long): Map[String, Any] =
    Gen.corpus(spark, in, seed)

  def inputRows(props: Map[String, Any]): Long = props("documents").asInstanceOf[Int].toLong

  private def e2e(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(s"$out/dedup")

  def pass(spark: SparkSession, in: String, out: String, props: Map[String, Any]): PassOutcome =
    PassOutcome(1, attempt(e2e(Dedup.qDedupE2e(spark, in), out)))

  def check(spark: SparkSession, in: String, out: String, props: Map[String, Any]): Seq[String] = {
    // one verdict per document, and every duplicate points at a kept doc
    val r = spark.read.parquet(s"$out/dedup")
    val n = r.count()
    val docs = inputRows(props)
    val kept = r.filter(col("verdict") === "kept").select(col("doc_id").as("dup_of"))
    val dangling = r.filter(col("verdict") === "near_dup").join(kept, Seq("dup_of"), "left_anti").count()
    Seq(
      if (n == docs) None else Some(s"dedup output has $n rows for $docs documents"),
      if (dangling == 0) None else Some(s"$dangling near duplicates point at a doc that was not kept"))
      .flatten
  }

  def fingerprint(spark: SparkSession, out: String): String = parquetPrint(spark, s"$out/dedup")

  def oracles(in: String, out: String): Seq[OracleCheck] = {
    val views = Map("documents" -> s"$in/documents.parquet")
    Seq(
      OracleCheck("q_dedup_e2e", graft.SparkEntry.oracleSql("q_dedup_e2e"), s"$out/dedup",
        hive = false, views),
      OracleCheck("cc_rounds", graft.SparkEntry.oracleSql("q_dedup_minhash"), "", hive = false,
        views, MinCcRounds))
  }

  def traced(spark: SparkSession, in: String, out: String, props: Map[String, Any],
      t: Tracer): (Double, Seq[(String, Metric)]) = {
    Dedup.clearShared()
    t.span("Dedup.dedup_e2e")(e2e(t.counted("Dedup.dedup_e2e", Dedup.qDedupE2e(spark, in)), out))
    // the stages dedup_e2e composes, each called on its own; the shared
    // memo is cleared once, so each span pays for its own layer and
    // reads the layers below it from the memo
    Dedup.clearShared()
    val docs = Tables(spark, in, "documents")
    t.span("Dedup.exact")(noop(t.counted("Dedup.exact", Dedup.qDedupExact(spark, in))))
    t.span("Dedup.signature")(noop(t.counted("Dedup.signature",
      Dedup.minhashSig(Dedup.shingleSets(spark, in)))))
    t.span("Dedup.pairs")(noop(t.counted("Dedup.pairs", Dedup.minhashPairs(spark, in))))
    val rounds = t.span("Dedup.cc") {
      val (labels, rounds) = Dedup.ccOver(Dedup.minhashPairs(spark, in).select("doc_a", "doc_b"))
      noop(t.counted("Dedup.cc", labels))
      rounds
    }
    t.span("TextOps.quality")(noop(t.counted("TextOps.quality", TextOps.qQualityScore(spark, in))))
    t.span("Dedup.substring")(noop(t.counted("Dedup.substring",
      Dedup.substringDedup(docs.select("doc_id", "text")))))
    (t.wall("Dedup.dedup_e2e"), t.metrics() :+ ("Dedup.cc.rounds" -> Metric(rounds, "count")))
  }
}

/** The reference's queue consumer: many small stateful micro-batches,
  * each writing a pub/sub epoch and checkpoint files. Traced only. */
object ServiceLoopLayers extends TracedLayers {
  import Workload._
  val name = "service_loop"
  val progressLog = new ProgressLog

  def generate(spark: SparkSession, in: String, seed: Long): Map[String, Any] = {
    Files.createDirectories(Paths.get(in))
    Gen.serviceBacklog(seed)
  }

  private def drain(spark: SparkSession, out: String, props: Map[String, Any])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = ServiceLoop.run(spark, props("messages").asInstanceOf[Long],
      props("max_per_trigger").asInstanceOf[Long], s"$out/pubsub", s"$out/ckpt")
    q.awaitTermination()
    q
  }

  def check(spark: SparkSession, in: String, out: String, props: Map[String, Any]): Seq[String] = {
    // ServiceLoopSpec's invariants, applied from outside: three
    // publishes per asset, no duplicate publish, and no stale
    // processing@53 once processing@76 was published
    val p = PubSubSink.readPublished(spark, s"$out/pubsub", PubSubSink.progressSchema)
    val assets = props("assets").asInstanceOf[Long]
    val r = p.agg(count(lit(1)), countDistinct(col("user"), col("url"), col("stage"), col("progress")),
      countDistinct(col("url")), sum(when(col("progress") === 53, 1L).otherwise(0L))).head()
    val perAsset = p.groupBy("url").count().filter(col("count") =!= 3).count()
    Seq(
      if (r.getLong(0) == assets * 3) None else Some(s"published ${r.getLong(0)} rows for $assets assets"),
      if (r.getLong(1) == r.getLong(0)) None else Some("duplicate publishes"),
      if (r.getLong(2) == assets && perAsset == 0) None else Some(s"$perAsset assets without 3 publishes"),
      if (Option(r.get(3)).forall(_ == 0L)) None else Some("stale processing@53 published"))
      .flatten
  }

  def traced(spark: SparkSession, in: String, out: String, props: Map[String, Any],
      t: Tracer): (Double, Seq[(String, Metric)]) = {
    val q = t.span("ServiceLoop")(drain(spark, out, props))
    t.attach("ServiceLoop", q.runId.toString)
    org.apache.spark.BusDrain(spark.sparkContext)
    val ps = progressLog.forRun(q.runId)
    def dur(keys: String*): Double =
      ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum).sum / 1000.0
    val state = ps.flatMap(_.stateOperators.headOption)
    val own = t.metrics().toMap
    val extra = Seq(
      "IngestQueueSource.offset_s" -> Metric(dur("latestOffset", "getBatch"), "s"),
      "ServiceLoop.planning_s" -> Metric(dur("queryPlanning"), "s"),
      "ServiceLoop.exec_s" -> Metric(dur("addBatch"), "s"),
      "ServiceLoop.wal_s" -> Metric(dur("walCommit", "commitOffsets"), "s"),
      "IngestStream.state_commit_s" -> Metric(state.map(_.commitTimeMs).sum / 1000.0, "s"),
      "IngestStream.state_rows_peak" -> Metric((0L +: state.map(_.numRowsTotal)).max, "rows"),
      "IngestStream.state_bytes_peak" -> Metric((0L +: state.map(_.memoryUsedBytes)).max, "bytes"),
      "PubSubSink.rows_published" -> Metric(
        PubSubSink.readPublished(spark, s"$out/pubsub", PubSubSink.progressSchema).count(), "rows"),
      "PubSubSink.bytes_written" -> Metric(dirBytes(s"$out/pubsub"), "bytes"),
      "ServiceLoop.ckpt_bytes" -> Metric(dirBytes(s"$out/ckpt"), "bytes"),
      "ServiceLoop.batches" -> Metric(ps.size, "count"),
      "ServiceLoop.jobs" -> own("ServiceLoop.jobs"),
      "ServiceLoop.task_cpu_s" -> own("ServiceLoop.task_cpu_s"),
      "ServiceLoop.idle_core_s" -> own("ServiceLoop.idle_core_s"))
    (t.wall("ServiceLoop"), extra)
  }
}
