package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators, one per workload. Every table is written
  * as ONE parquet file with one row group, the layout of the shipped
  * test data, so the program's one-partition scans behave as they do
  * there. The program only ever sees the files; the returned map holds
  * the input properties that are recorded next to the results. */
object Gen {

  /** A seed-derived value in [lo, hi], stable per (seed, salt). */
  private def uniform(seed: Long, salt: Int, lo: Double, hi: Double): Double =
    lo + (hi - lo) * new scala.util.Random(seed * 1000003L + salt).nextDouble()

  private def writeOne(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------- geo

  val GeoEvents = 100000L
  val GeoParts = 25000L
  val GeoUsers = 40

  /** `events` and `part` for geo_backlog. The seed moves the event ids
    * (event_id % 10 picks the upload's file class, % 5 its source CRS),
    * the route mix (per-class weights within ±5% of uniform) and the
    * user skew (Zipf-like exponent in [1.6, 2.0]); the ranges are narrow
    * so the work per pass, and with it run_s, stays put across seeds. */
  def geoBacklog(spark: SparkSession, dir: String, seed: Long): Map[String, Any] = {
    val weights = (0 until 10).map(r => uniform(seed, 10 + r, 0.95, 1.05))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val skew = uniform(seed, 1, 1.6, 2.0)
    val u01 = (salt: Int) =>
      (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1L << 30)).cast("double") / (1L << 30).toDouble)
    val residue = cum.zipWithIndex.init.foldRight(lit(9)) { case ((c, r), acc) =>
      when(col("u_route") < c, lit(r)).otherwise(acc)
    }
    val events = spark.range(GeoEvents)
      .withColumn("u_route", u01(1))
      .select(
        (col("id") * 10 + residue + lit((seed % 1000) * 10 * GeoEvents)).as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 37000L +
          pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(37000L))).as("ts"),
        floor(pow(u01(3), lit(skew)) * GeoUsers).cast("long").as("user_id"),
        element_at(array(Seq("view", "click", "upload", "signup", "error").map(lit): _*),
          (pmod(xxhash64(col("id"), lit(seed), lit(4)), lit(5L)) + 1).cast("int")).as("event_type"),
        round(u01(5) * 1000, 2).as("value"),
        concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit(seed), lit(6)), lit(100L)).cast("string"),
          lit("}")).as("props"))
    writeOne(events, s"$dir/events.parquet")
    val part = spark.range(GeoParts)
      .select(
        (col("id") * 3 + pmod(xxhash64(col("id"), lit(seed), lit(7)), lit(3L))).as("p_partkey"),
        concat(lit("part "), col("id").cast("string")).as("p_name"),
        concat(lit("Brand#"), (pmod(xxhash64(col("id"), lit(seed), lit(8)), lit(25L)) + 1).cast("string")).as("p_brand"),
        lit("STANDARD").as("p_type"),
        (pmod(xxhash64(col("id"), lit(seed), lit(9)), lit(50L)) + 1).cast("int").as("p_size"),
        round(lit(900.0) + col("id") % 1000 * 0.1, 2).as("p_retailprice"))
    writeOne(part, s"$dir/part.parquet")
    val vectorShare = Seq(3, 4, 8).map(r => weights(r)).sum / weights.sum
    val rasterShare = Seq(0, 1, 2).map(r => weights(r)).sum / weights.sum
    Map("events" -> GeoEvents, "parts" -> GeoParts, "users" -> GeoUsers,
      "route_vector_share" -> vectorShare, "route_raster_share" -> rasterShare,
      "user_skew_exponent" -> skew)
  }

  // ------------------------------------------------------------- corpus

  val CorpusDocs = 1000
  val Chains = 100
  val ShortChains = 20
  val ChainLen = 6

  /** `documents` for corpus_dedup: sliding-window version chains,
    * singletons, and exact copies of singletons. A chain walks one long
    * random word stream; version v is the window [v*S, v*S + L) with
    * S = L/3, so consecutive versions share two thirds of their words
    * (shingle Jaccard 0.48, a verified pair whenever LSH proposes it)
    * and versions two steps apart share a third (Jaccard 0.18, below the
    * 0.2 verify threshold): the pair graph of a chain is a path.
    * Versions get ascending doc ids (a later version is a later upload),
    * so min-label propagation walks each path from its first version and
    * needs as many rounds as the longest unbroken path has edges; with
    * 80 full-length chains one of them is unbroken in practically every
    * corpus, so the round count (ChainLen - 1) does not move with the
    * seed. The seed moves the text, the lengths of the 20 short chains
    * (3 to ChainLen - 1 versions) and the exact-copy share (8-14%). */
  def corpus(spark: SparkSession, dir: String, seed: Long): Map[String, Any] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(4000)(i => wordOf(i))
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val L = 48
    val S = L / 3
    val copyShare = uniform(seed, 20, 0.08, 0.14)
    val chains = (0 until Chains).map { c =>
      val len = if (c < ShortChains) 3 + rnd.nextInt(ChainLen - 3) else ChainLen
      val stream = words(L + (len - 1) * S)
      (0 until len).map(v => stream.slice(v * S, v * S + L).mkString(" "))
    }
    val copies = (CorpusDocs * copyShare).toInt
    val singles = (0 until CorpusDocs - copies - chains.map(_.size).sum)
      .map(_ => words(24 + rnd.nextInt(48)).mkString(" "))
    val copied = (0 until copies).map(_ => singles(rnd.nextInt(singles.size)))
    // random ids over the whole corpus, ascending within each chain
    val ids = rnd.shuffle((0 until CorpusDocs).toVector)
    val groups = chains ++ (singles ++ copied).map(Seq(_))
    var next = 0
    val rows = groups.flatMap { g =>
      val gi = ids.slice(next, next + g.size).sorted
      next += g.size
      g.zip(gi)
    }.map { case (t, i) =>
      Row(i.toLong * 7 + (seed % 7 + 7) % 7, t, if (i % 9 == 0) "de" else "en", s"src${i % 5}",
        t.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    writeOne(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      s"$dir/documents.parquet")
    val hist = chains.map(_.size).groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k:${v.size}" }.mkString(",")
    Map("documents" -> CorpusDocs, "chains" -> Chains, "chain_docs" -> chains.map(_.size).sum,
      "chain_len_histogram" -> hist, "exact_copy_share" -> copies.toDouble / CorpusDocs,
      "version_words" -> L, "version_step_words" -> S)
  }

  /** Pronounceable distinct words; a few short stop words stay in the
    * mix so the quality score has something to count. */
  private def wordOf(i: Int): String = {
    val stops = Array("the", "a", "of", "and", "to")
    if (i < stops.length) stops(i)
    else {
      val c = "bcdfghjklmnprstvz"; val v = "aeiou"
      val sb = new StringBuilder
      var x = i
      while (x > 0) { sb += c(x % c.length); x /= c.length; sb += v(x % v.length); x /= v.length }
      sb.toString
    }
  }

  // ------------------------------------------------------------ service

  val ServiceAssets = 100
  val ServiceMaxPerTrigger = 151L

  /** The queue backlog for service_loop: the synthetic queue serves
    * message ids 0..n-1, four chunk notifications per asset, so the
    * seed moves the asset count within ±2% and with it where trigger
    * boundaries cut assets. `maxPerTrigger` is fixed and not a multiple
    * of four, so assets span micro-batches. */
  def serviceBacklog(seed: Long): Map[String, Any] = {
    val assets = (ServiceAssets * uniform(seed, 30, 0.98, 1.02)).toLong
    val messages = assets * 4
    Map("messages" -> messages, "assets" -> assets, "max_per_trigger" -> ServiceMaxPerTrigger,
      "expected_batches" -> (messages + ServiceMaxPerTrigger - 1) / ServiceMaxPerTrigger)
  }
}
