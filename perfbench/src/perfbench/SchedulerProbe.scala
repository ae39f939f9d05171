package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.SchedulerConfig
import graft.operators.{Scheduler, SeenSet}

import Common._

/** Per-layer numbers of `Scheduler` and `SeenSet` on a read-only frontier
  * whose seen set is 1.43x the bloom's capacity — the ratio of a 6M-url
  * seen set to the default 4 Mi capacity, at 1/40 of both — so the bloom
  * prune degrades the way it does late in a long crawl. The crawl
  * session's own seen set fits its bloom; this probe measures the other
  * side. Each public scheduler call is timed on materialized inputs, so
  * it measures only itself. The default top-K (100) lets each term of the
  * per-host budget bind on some hosts: politeness on hot hosts, the
  * unseen-row count on cold ones.
  */
object SchedulerProbe {
  val FrontierN = 100000L
  val SeenN = 150000L
  val Hosts = 1000
  val HotHosts = 3
  val WaveId = 1L

  def config(partitions: Int): SchedulerConfig = SchedulerConfig(
    waveSeconds = 400, numPartitions = partitions,
    bloomExpectedTotal = SchedulerConfig().bloomExpectedTotal / 40)

  def run(spark: SparkSession, tracer: Tracer, rep: Report, seed: Long,
          partitions: Int): Unit = {
    val cfg = config(partitions)
    val in = Inputs.frontier(spark, seed, FrontierN, SeenN, Hosts, HotHosts,
      partitions)
    val frontier = in.frontier.persist(StorageLevel.MEMORY_AND_DISK)
    val seen = in.seen.persist(StorageLevel.MEMORY_AND_DISK)
    frontier.count(); seen.count()
    val (blooms, buildS) = seconds(SeenSet.buildShardedBloom(
      seen, "url", cfg.bloomShards, cfg.bloomExpectedTotal, cfg.bloomFpp))
    rep.layers("SeenSet.build_s") = buildS
    val (_, mergeS) = seconds(SeenSet.mergeSharded(blooms, blooms))
    rep.layers("SeenSet.merge_s") = mergeS
    rep.layers("SeenSet.bloom_mb") = blooms.map(_.length.toLong).sum / 1e6

    def timedCall(part: String)(df: => DataFrame): Work = {
      val desc = s"Scheduler.$part"
      val (_, wall) = seconds(tracer.span(desc, desc, "session")(
        tagged(spark, desc)(materialize(df))))
      tracer.work(_ == desc).copy(wallS = wall)
    }
    def record(part: String, w: Work): Unit = {
      rep.layers(s"Scheduler.$part.wall_s") = w.wallS
      rep.layers(s"Scheduler.$part.busy_s") = w.busyS
      rep.layers(s"Scheduler.$part.shuffle_write_mb") = w.shuffleWriteMb
    }
    val unseen = SeenSet.removeSeen(frontier, "url", seen, "url", Some(blooms))
    record("removeSeen", timedCall("removeSeen")(unseen))
    val unseenCached = unseen.dropDuplicates("url").cache()
    unseenCached.count()
    val gated = Scheduler.robotsGate(unseenCached, in.robots).cache()
    record("robotsGate", timedCall("robotsGate")(gated))
    val topK = timedCall("topKPerHost")(Scheduler.topKPerHost(gated, WaveId, cfg))
    record("topKPerHost", topK)
    rep.layers("Scheduler.topKPerHost.task_skew") = topK.taskSkew
    def schedule(blooms: Option[Array[Array[Byte]]]): DataFrame =
      Scheduler.schedule(frontier, seen, in.robots, WaveId, cfg, blooms)
    record("schedule", timedCall("schedule")(schedule(Some(blooms))))
    unseenCached.unpersist(true); gated.unpersist(true)

    // realized false-positive ratio of the prune, via the public probe
    val urls = frontier.select("url").distinct().cache()
    val rows = urls.count()
    val positives = urls.filter(SeenSet.mightContain(spark, col("url"), blooms)).count()
    val hits = urls.join(seen.select("url"), Seq("url"), "left_semi").count()
    urls.unpersist(true)
    rep.layers("SeenSet.bloom_positives") = positives.toDouble
    rep.layers("SeenSet.exact_hits") = hits.toDouble
    rep.layers("SeenSet.fp_ratio") =
      if (rows > hits) (positives - hits).toDouble / (rows - hits) else 0.0

    val withBloom = schedule(Some(blooms)).cache()
    rep.check("bloom only routes rows: same schedule without it") {
      val a = fingerprint(withBloom)
      val b = fingerprint(schedule(None))
      (a == b, s"with bloom $a, without $b")
    }
    rep.check("scheduled count == per-host min(budget, unseen rows)") {
      val got = withBloom.count()
      val want = independentCount(frontier, seen, in.robots, cfg)
      (got == want, s"scheduled $got, expected $want")
    }
    rep.fingerprints("schedule") = fingerprint(withBloom).toString
    withBloom.unpersist(true); frontier.unpersist(true); seen.unpersist(true)
  }

  /** The scheduled count from first principles: distinct unseen urls not
    * disallowed by robots, capped per host at the politeness budget
    * least(topK, floor(waveSeconds / (fixed + min + xxhash64(host, wave)
    * mod span))). Shares no code with `Scheduler`.
    */
  private def independentCount(frontier: DataFrame, seen: DataFrame,
                               robots: DataFrame, cfg: SchedulerConfig): Long = {
    val span = (cfg.politenessRandMaxSecs - cfg.politenessRandMinSecs + 1).max(1)
    val rules = robots.select(col("host"), explode(col("disallowPrefixes")).as("prefix"))
    val unseen = frontier.select("url", "host").distinct()
      .join(seen.select("url"), Seq("url"), "left_anti")
      .withColumn("path", regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
    val blocked = unseen.join(rules, Seq("host"))
      .filter(col("path").startsWith(col("prefix"))).select("url").distinct()
    unseen.join(blocked, Seq("url"), "left_anti")
      .groupBy("host").agg(count(lit(1)).as("n"))
      .select(least(col("n"), lit(cfg.topKPerHost.toLong),
        floor(lit(cfg.waveSeconds.toDouble) / (lit(cfg.politenessFixedSecs +
          cfg.politenessRandMinSecs) + pmod(xxhash64(col("host"), lit(WaveId)),
          lit(span.toLong)))).cast("long")).as("k"))
      .agg(sum("k")).head().getLong(0)
  }
}
