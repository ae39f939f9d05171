package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SchedulerConfig
import graft.streaming.CrawlEngine

import Common._

/** `crawl_session`: one NewsLookout session on the crawl engine — warm-up
  * waves (set-up), a fixed number of measured waves, then the
  * data processors (J4 dedupe, enrichment). The session's work is fixed
  * rather than time-boxed, so state size and the dedupe's input are the
  * same on every commit; `--seconds` does not change it. The measured
  * part takes about 35 s on a 4-core host.
  *
  * A full collection follows every wave, outside its timed window: each
  * wave starts from the same compacted heap, so peak RSS follows the
  * largest wave instead of the garbage promoted over the whole session.
  */
object CrawlSession {
  /** Large enough that Spark's size estimate of the pages table (128 B a
    * row) passes the 10 MB broadcast threshold, so the fetch join
    * reshuffles the pages table every wave, as it does at full scale.
    */
  val PagesN = 100000L
  val Hosts = 100
  val HotHosts = 3
  val SeedCount = 4000
  /** The first waves run cold code (JIT, codegen); they count as set-up. */
  val WarmUpWaves = 2
  /** Five, so the median wave does not move when one wave is slow: the
    * first measured wave (still compiling, and compacting the frontier)
    * or one that a busy host slowed.
    */
  val MeasuredWaves = 5
  /** Waves the scaling diagnostic repeats at local[1]: the first measured
    * one, which also compacts the frontier, so every phase runs.
    */
  val ScalingWaves = 1

  /** The job descriptions `CrawlEngine.runWave` sets, minus `wave-N`. */
  val Phases = Seq("counters", "discover-links", "commit-articles",
    "commit-html", "commit-seen", "bloom-delta", "commit-frontier",
    "compact-frontier")

  def config(partitions: Int): SchedulerConfig = SchedulerConfig(
    topKPerHost = 25, waveSeconds = 400, numPartitions = partitions,
    compactFrontierEveryWaves = 3)

  /** The measured waves of one engine, with their wall times. */
  final case class Measured(stats: Seq[CrawlEngine#WaveStats],
                            wallS: Seq[Double], spans: Seq[(Long, Long)],
                            from: Long, to: Long, cpuS: Double) {
    def scheduled: Long = stats.map(_.scheduled).sum
  }

  private def measuredWaves(e: CrawlEngine, rep: Report,
                            tracer: Option[Tracer], count: Int): Measured = {
    val from = System.currentTimeMillis()
    val cpu0 = cpuSeconds()
    val waves = (1 to count).flatMap { _ =>
      val id = s"wave-${e.lastCompleteWave + 1}"
      val start = System.currentTimeMillis()
      val r = rep.op(id)(seconds(traced(tracer, id, id, "session")(e.runWave())))
        .map { case (st, s) => (st, s, (start, System.currentTimeMillis())) }
      System.gc()
      r
    }
    val m = Measured(waves.map(_._1), waves.map(_._2), waves.map(_._3), from,
      System.currentTimeMillis(), cpuSeconds() - cpu0)
    m.wallS.foreach(rep.sample("wave_s", "s", _))
    if (m.wallS.nonEmpty) {
      rep.metric("throughput_per_s", "1/s", m.scheduled / m.wallS.sum)
      rep.metric("op_s_p50", "s", Stats.median(m.wallS))
      rep.sample("crawl_urls_per_s", "1/s", m.scheduled / m.wallS.sum)
    }
    tracer.foreach { tr =>
      val n = m.wallS.size.max(1).toDouble
      Phases.foreach { ph =>
        val w = tr.work(_.matches(s"wave-\\d+ $ph"), m.from, m.to)
        rep.layers(s"CrawlEngine.$ph.wall_s") = w.wallS / n
        rep.layers(s"CrawlEngine.$ph.busy_s") = w.busyS / n
        rep.layers(s"CrawlEngine.$ph.shuffle_write_mb") = w.shuffleWriteMb / n
        rep.layers(s"CrawlEngine.$ph.spill_mb") = w.spillMb / n
        rep.layers(s"CrawlEngine.$ph.jobs") = w.jobs / n
      }
    }
    m
  }

  /** The whole session. With `warmCopy`, the state after the warm-up waves
    * is also copied there, for [[resume]].
    */
  def run(spark: SparkSession, rep: Report, seed: Long, partitions: Int,
          sessionS: Double, tracer: Option[Tracer], stateDir: Path,
          warmCopy: Option[Path]): Unit = {
    val t0 = System.nanoTime()
    val in = Inputs.crawl(spark, seed, PagesN, Hosts, HotHosts, SeedCount)
    val e = new CrawlEngine(spark, stateDir.toString, in.pages, in.robots,
      config(partitions))
    e.init(in.seeds)
    val warm = (1 to WarmUpWaves).flatMap { w =>
      val r = rep.op(s"wave-$w")(e.runWave())
      System.gc()
      r
    }
    rep.metric("setup_s", "s", sessionS + (System.nanoTime() - t0) / 1e9)
    warmCopy.foreach(copyTree(stateDir, _))

    val m = measuredWaves(e, rep, tracer, MeasuredWaves)
    val cpu0 = cpuSeconds()
    val articles = e.articlesBaseNow().count()
    val (tomb, dedupeS) = seconds(rep.op("dedupeArticles")(
      traced(tracer, "DedupeArticles", "post", "session")(
        tagged(spark, "DedupeArticles")(e.dedupeArticles()))))
    val (enriched, postS) = seconds(rep.op("postProcessArticles")(
      traced(tracer, "PostProcess", "post", "session")(
        tagged(spark, "PostProcess")(e.postProcessArticles()))))
    if (m.wallS.nonEmpty) rep.metric("session_s", "s", m.wallS.sum + dedupeS + postS)
    rep.metric("session_cpu_s", "s", m.cpuS + cpuSeconds() - cpu0)
    val root = Paths.get(e.root)
    val snapshotBytes = Seq("frontier", "seen", "articles", "articles_html",
      "tombstones", "host_budget")
      .map(t => bytesUnder(root.resolve(t).resolve("data"))).sum
    rep.sample("postprocess_s", "s", dedupeS + postS)
    rep.sample("state_mb", "MB",
      (snapshotBytes + bytesUnder(root.resolve("seen_bloom"))) / 1e6)
    enriched.foreach(n => rep.sample("enriched_articles", "count", n.toDouble))

    checks(rep, e, warm ++ m.stats, tomb, in.altSeeds)
    if (warmCopy.isDefined)
      rep.fingerprints("seen_scaling_waves") =
        seenFingerprint(e, WarmUpWaves + ScalingWaves)
    // before the traced-only probe below, so traced and untraced runs
    // measure the same work
    rep.metric("peak_rss_mb", "MB", peakRssMb())

    tracer.foreach { tr =>
      val n = m.wallS.size.max(1).toDouble
      rep.layers("CrawlEngine.driver_gap_s") =
        m.spans.map { case (s, t) => tr.idleMs(s, t) }.sum / 1e3 / n
      rep.layers("CrawlEngine.jobs_per_wave") = tr.work(_ => true, m.from, m.to).jobs / n
      rep.layers("CrawlEngine.fetch.ok_ratio") =
        if (m.scheduled > 0) m.stats.map(_.fetched).sum.toDouble / m.scheduled else 0.0
      val fetchedAll = (warm ++ m.stats).map(_.fetched).sum
      rep.layers("CrawlEngine.extract.keep_ratio") =
        if (fetchedAll > 0) articles.toDouble / fetchedAll else 0.0

      rep.layers("SnapshotTable.commit_s") = Phases.filter(p =>
        p.startsWith("commit-") || p == "compact-frontier")
        .map(p => rep.layers(s"CrawlEngine.$p.wall_s")).sum
      rep.layers("SnapshotTable.output_mb") = snapshotBytes / 1e6
      rep.layers("SnapshotTable.frontier_dirs") =
        e.frontierT.latest.map(_.dirs.size).getOrElse(0).toDouble

      val d = tr.work(_ == "DedupeArticles")
      rep.layers("DedupeArticles.wall_s") = dedupeS
      rep.layers("DedupeArticles.busy_s") = d.busyS
      rep.layers("DedupeArticles.shuffle_write_mb") = d.shuffleWriteMb
      rep.layers("DedupeArticles.tombstones") = tomb.getOrElse(0L).toDouble
      rep.layers("PostProcess.wall_s") = postS
      rep.layers("PostProcess.busy_s") = tr.work(_ == "PostProcess").busyS

      SchedulerProbe.run(spark, tr, rep, seed, partitions)
    }
  }

  /** Reopen a state copied by [[run]] after its warm-up waves (the
    * engine's resume path) and run the first [[ScalingWaves]] measured
    * waves again — the scaling diagnostic runs this on one core. The seen
    * table it leaves must equal the full session's up to those waves.
    */
  def resume(spark: SparkSession, rep: Report, seed: Long, partitions: Int,
             tracer: Option[Tracer], stateDir: Path): Unit = {
    val in = Inputs.crawl(spark, seed, PagesN, Hosts, HotHosts, SeedCount)
    val e = new CrawlEngine(spark, stateDir.toString, in.pages, in.robots,
      config(partitions))
    measuredWaves(e, rep, tracer, ScalingWaves)
    rep.fingerprints("seen_scaling_waves") =
      seenFingerprint(e, WarmUpWaves + ScalingWaves)
  }

  /** (waveId, url) over the seen table, for the waves up to `upToWave`:
    * the wave that first lists a data dir is the wave that wrote it.
    */
  private def seenFingerprint(e: CrawlEngine,
                              upToWave: Long = Long.MaxValue): String = {
    val dirWave = e.seenT.history.flatMap(c => c.dirs.map(_ -> c.waveId))
      .groupBy(_._1).map { case (d, ws) => d -> ws.map(_._2).min }
    val tagged = e.seenUrls().select(col("url"), element_at(typedLit(dirWave),
      regexp_extract(input_file_name(), "/data/([^/]+)/", 1)).as("waveId"))
    val (rows, fp) = fingerprint(tagged.filter(col("waveId") <= upToWave))
    s"$rows:$fp"
  }

  private def checks(rep: Report, e: CrawlEngine,
                     stats: Seq[CrawlEngine#WaveStats], tomb: Option[Long],
                     altSeeds: Long): Unit = {
    rep.check("fetched+failed==scheduled per wave") {
      val bad = stats.filter(s => s.fetched + s.failed != s.scheduled)
      (stats.nonEmpty && bad.isEmpty, s"${stats.size} waves; mismatched: " +
        bad.map(s => s"wave ${s.waveId}").mkString(","))
    }
    rep.check("seen urls unique, one per scheduled url") {
      val seen = e.seenUrls()
      val rows = seen.count()
      val distinct = seen.select("url").distinct().count()
      val scheduled = stats.map(_.scheduled).sum
      (rows == distinct && rows == scheduled,
        s"seen rows $rows, distinct $distinct, scheduled $scheduled")
    }
    rep.check("tombstoned urls keep their cross-module twin") {
      val tombs = e.tombstonesT.readFull(StructType(Seq(
        StructField("url", StringType), StructField("keptUrl", StringType))))
      val live = e.articlesBaseNow().select("url")
      val twin = when(col("url").contains("/alt/story-"),
        regexp_replace(col("url"), "/alt/story-", "/articles/story-"))
        .otherwise(Inputs.toAlt(col("url")))
      val notTwin = tombs.filter(col("keptUrl") =!= twin).count()
      val keptMissing = tombs.select(col("keptUrl").as("url"))
        .join(live, Seq("url"), "left_anti").count()
      val victimsLive = tombs.select("url").join(live, Seq("url"), "left_semi").count()
      val n = tomb.getOrElse(-1L)
      (n > 0 && n <= altSeeds && notTwin == 0 && keptMissing == 0 && victimsLive == 0,
        s"tombstones $n of $altSeeds twins; not a twin $notTwin, " +
          s"twin gone $keptMissing, victim still live $victimsLive")
    }
    rep.check("seen (waveId, url) fingerprint recorded") {
      val fp = seenFingerprint(e)
      rep.fingerprints("seen_wave_url") = fp
      (!fp.startsWith("0:"), s"fingerprint $fp")
    }
  }
}
