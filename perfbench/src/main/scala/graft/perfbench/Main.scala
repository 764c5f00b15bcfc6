package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload and writes `result.json` into the
  * work directory. `perfbench/run.py` builds this, starts it, runs the
  * DuckDB oracle checks on the outputs it names and prints the result.
  *
  * Untraced (`--trace 0`): three set-ups (session and seeded inputs in
  * a fresh directory), one warm-up pass, then closed-loop passes until
  * `--seconds` have passed, each pass timed on its own. `setup_s` is the
  * JVM start, the median set-up and the warm-up pass. Traced
  * (`--trace 1`): every workload's traced pass and layer spans, see
  * [[traced]].
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --cores <n>
  */
object Main {
  final case class Opts(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int)

  val Setups = 3
  /** The first pass pays for most of the code generation and JIT
    * compilation (q_dedup_e2e: ~19 s against ~8 s). After one warm-up
    * pass the next still runs 10-25% slower than the one after it; a
    * second warm-up removes that but costs 4-9 s more per run, which the
    * benchmark's total time budget (every run of every workload) has no
    * room for. The median of the timed passes carries that settling. */
  val WarmupPasses = 1
  val MinPasses = 2
  /** The workload whose traced pass is compared with an untraced one. */
  val OverheadReference: Workload = GeoBacklog

  def main(args: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      Workload.byName(kv("workload")).getOrElse(sys.error(s"unknown workload ${kv("workload")}")),
      kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1", kv("work"), kv("cores").toInt)
    HeapWatch.install()
    val res = if (o.trace) traced(o) else untraced(o, jvmStartS)
    Files.write(Paths.get(o.work, "result.json"), res.json.getBytes(StandardCharsets.UTF_8))
    // every output is on disk and the work directory is discarded, so the
    // JVM ends here instead of spending seconds in Spark's shutdown hooks
    Runtime.getRuntime.halt(0)
  }

  def session(o: Opts, name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // the state store ServiceLoopSpec runs the composed loop on
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(ServiceLoopLayers.progressLog)
    s
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $msg")

  private def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One timed pass: wall seconds; CPU seconds of its Spark tasks plus
    * the driver thread that planned them (JIT compiler and GC threads
    * excluded, so compilation still settling does not read as work);
    * post-GC heap peak. */
  private final case class Timed(wall: Double, cpu: Double, heapMiB: Double, outcome: PassOutcome)

  /** The state every timed pass and anchor starts from: no memoized
    * dedup plans (the pass times the pipeline, not a memo hit), a
    * collected heap and an idle listener bus. */
  private def settle(spark: SparkSession): Unit = {
    graft.operators.Dedup.clearShared()
    System.gc()
    org.apache.spark.BusDrain(spark.sparkContext)
  }

  private def timedPass(spark: SparkSession, wl: Workload, in: String, out: String,
      props: Map[String, Any], clock: TaskCpu): Timed = {
    settle(spark)
    clock.drain()
    HeapWatch.reset()
    val c0 = Cpu.thread()
    val t0 = System.nanoTime()
    val outcome = wl.pass(spark, in, out, props)
    val wall = (System.nanoTime() - t0) / 1e9
    log(f"pass $out: $wall%.3f s")
    val driverCpu = Cpu.thread() - c0
    val heap = HeapWatch.peakMiB()
    org.apache.spark.BusDrain(spark.sparkContext)
    Timed(wall, driverCpu + clock.drain(), heap, outcome)
  }

  /** Closed loop: one pass after another until `--seconds` have passed,
    * each followed by an [[Anchor]] measurement outside its timing. */
  private def timedLoop(spark: SparkSession, wl: Workload, in: String, props: Map[String, Any],
      o: Opts): (Seq[Timed], Seq[Double]) = {
    val clock = new TaskCpu
    spark.sparkContext.addSparkListener(clock)
    settle(spark)
    Anchor.measure(spark.sparkContext, o.cores) // compiles the anchor's own code
    val passes = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val anchors = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - loop0) / 1e9 < o.seconds) {
      passes += timedPass(spark, wl, in, s"${o.work}/pass-${passes.size + 1}", props, clock)
      settle(spark)
      anchors += Anchor.measure(spark.sparkContext, o.cores)
    }
    spark.sparkContext.removeSparkListener(clock)
    (passes.toSeq, anchors.toSeq)
  }

  def untraced(o: Opts, jvmStartS: Double): Result = {
    val wl = o.workload
    val res = new Result(wl.name, o.seed)
    var spark: SparkSession = null
    var in = ""
    var props = Map.empty[String, Any]
    val setups = (1 to Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o, wl.name)
      in = s"${o.work}/in-$k"
      props = wl.generate(spark, in, o.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    (1 to WarmupPasses).foreach(k => wl.pass(spark, in, s"${o.work}/warm-$k", props))
    val warmS = (System.nanoTime() - w0) / 1e9
    val (passes, anchors) = timedLoop(spark, wl, in, props, o)

    // wall-clock times at the reference host speed, see Anchor
    val anchorWall = median(anchors)
    val kWall = Anchor.RefWallS / anchorWall
    val rows = wl.inputRows(props)
    val setupS = jvmStartS + median(setups) + warmS
    val runS = median(passes.map(_.wall))
    val cpuS = median(passes.map(_.cpu))
    res.metric("setup_s", setupS * kWall, "s")
    res.metric("run_s", runS * kWall, "s")
    res.metric("rows_per_s", rows / (runS * kWall), "1/s")
    res.metric("cpu_s", cpuS, "s")
    res.metric("heap_peak_mb", median(passes.map(_.heapMiB)), "MiB")
    res.info("anchor_wall_s", anchorWall)
    res.info("setup_s_measured", setupS)
    res.info("run_s_measured", runS)
    res.info("passes", passes.size)
    res.info("setup_s_each", setups)
    res.info("warmup_s", warmS)
    res.info("run_s_each", passes.map(_.wall))
    res.info("anchor_wall_s_each", anchors)
    res.attempted += passes.map(_.outcome.attempted).sum
    res.failed += passes.map(_.outcome.failed).sum
    finish(spark, wl, in, props, passes.size, res, o)
    res
  }

  /** Output checks, all outside the timed region. */
  private def finish(spark: SparkSession, wl: Workload, in: String, props: Map[String, Any],
      nPasses: Int, res: Result, o: Opts): Unit = {
    res.props = props
    val outs = (1 to nPasses).map(i => s"${o.work}/pass-$i")
    val bad = outs.count { out =>
      val mismatches = try wl.check(spark, in, out, props)
        catch { case e: Throwable => Seq(s"check threw $e") }
      mismatches.foreach(m => res.check(s"${wl.name}.output", ok = false, m))
      mismatches.nonEmpty
    }
    res.failed += bad
    if (bad == 0) res.check(s"${wl.name}.output", ok = true, s"$nPasses passes checked")
    if (nPasses > 1) {
      val prints = outs.map { out =>
        try wl.fingerprint(spark, out) catch { case e: Throwable => s"fingerprint threw $e" }
      }
      val same = prints.distinct.size == 1
      res.check(s"${wl.name}.passes_agree", same, prints.distinct.mkString(" | "))
      if (!same) res.failed += prints.count(_ != prints.head)
    }
    wl.oracles(in, outs.last).foreach(res.oracles += _)
  }

  /** Every workload's traced pass and layer spans, so each traced run
    * reports every layer whichever workload it names; the named
    * workload's traced output is the one the oracles check. Only
    * geo_backlog, the cheapest, gets a warm-up and an untraced pass
    * before its traced pass, for `trace.overhead_s`; the other workloads
    * go straight to their traced pass, whose spans then include their
    * first-run compilation. */
  def traced(o: Opts): Result = {
    val res = new Result(o.workload.name, o.seed)
    val spark = session(o, "traced")
    Workload.traced.foreach { wl =>
      val in = s"${o.work}/in-${wl.name}"
      val props = wl.generate(spark, in, o.seed)
      if (wl == o.workload) res.props = props
      val untracedS = if (wl == OverheadReference) {
        OverheadReference.pass(spark, in, s"${o.work}/warm", props)
        val clock = new TaskCpu
        spark.sparkContext.addSparkListener(clock)
        val p = timedPass(spark, OverheadReference, in, s"${o.work}/pass-${wl.name}", props, clock)
        spark.sparkContext.removeSparkListener(clock)
        res.attempted += p.outcome.attempted
        res.failed += p.outcome.failed
        Some(p.wall)
      } else None
      val t = new Tracer(spark, o.cores)
      spark.sparkContext.addSparkListener(t.listener)
      val out = s"${o.work}/traced-${wl.name}"
      val (wall, metrics) = wl.traced(spark, in, out, props, t)
      spark.sparkContext.removeSparkListener(t.listener)
      log(s"traced ${wl.name} done")
      metrics.foreach { case (n, m) => res.metric(n, m.value, m.unit) }
      untracedS.foreach(u => res.metric("trace.overhead_s", wall - u, "s"))
      res.attempted += 1
      val mismatches = try wl.check(spark, in, out, props)
        catch { case e: Throwable => Seq(s"check threw $e") }
      mismatches.foreach(m => res.check(s"${wl.name}.traced_output", ok = false, m))
      if (mismatches.nonEmpty) res.failed += 1
      if (wl == o.workload) o.workload.oracles(in, out).foreach(res.oracles += _)
    }
    res
  }
}

/** Everything one run reports; serialized by hand so every number is
  * written with a '.' decimal point whatever the JVM locale is. */
final class Result(workload: String, seed: Long) {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  private val infos = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val oracles: scala.collection.mutable.ArrayBuffer[OracleCheck] = scala.collection.mutable.ArrayBuffer.empty
  var props: Map[String, Any] = Map.empty
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = Metric(value, unit)
  def info(name: String, v: Any): Unit = infos(name) = v
  def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  private def any(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  private def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def json: String = obj(Seq(
    "workload" -> str(workload),
    "seed" -> seed.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> obj(metrics.map { case (k, m) => k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit))) }),
    "info" -> obj(infos.map { case (k, v) => k -> any(v) }),
    "inputs" -> obj(props.toSeq.sortBy(_._1).map { case (k, v) => k -> any(v) }),
    "checks" -> checks.map { case (n, ok, d) =>
      obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d))) }.mkString("[", ",", "]"),
    "oracles" -> oracles.map { c =>
      obj(Seq("name" -> str(c.name), "sql" -> str(c.sql), "path" -> str(c.path),
        "hive" -> c.hive.toString, "min_cc_rounds" -> c.minCcRounds.toString,
        "views" -> obj(c.views.map { case (k, v) => k -> str(v) })))
    }.mkString("[", ",", "]")))
}
