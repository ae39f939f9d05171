package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <c> --out <dir>
  * }}}
  * Shuffle partitions equal `--cores`; the local[1] scaling diagnostic
  * keeps that partition count, so both runs do the same tasks.
  * Prints the run's report as one JSON object on the last stdout line;
  * `perfbench/run.py` turns it into the benchmark's result line.
  */
object Main {
  val Workloads = Seq("crawl_session", "query_suite")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val partitions = cores
    val out = Paths.get(a("out")).toAbsolutePath

    def session(cores: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", partitions.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", out.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def stateDir(tag: String) =
      out.resolve(s"state-$workload-$seed-$tag-${ProcessHandle.current().pid()}")

    val t0 = System.nanoTime()
    val spark = session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val rep = new Report(workload, seed, cores)
    val scaling = traced && workload == "crawl_session"
    guarded(rep, stateDir("main"))(
      Common.traced(tracer, "session", "session", "")(workload match {
        case "crawl_session" =>
          CrawlSession.run(spark, rep, seed, partitions, sessionS, tracer,
            stateDir("main"), Some(stateDir("warm")).filter(_ => scaling))
        case "query_suite" =>
          QuerySuite.run(spark, rep, seed, sessionS, seconds, tracer,
            Paths.get("perfbench/data/sf0.01").toAbsolutePath.toString,
            Paths.get("perfbench/expected/query_suite.tsv"))
      }))
    if (!rep.metrics.contains("peak_rss_mb"))
      rep.metric("peak_rss_mb", "MB", Common.peakRssMb())
    tracer.foreach(_.flush(out.resolve(
      s"spans-$workload-seed$seed-cores$cores.json").toString))
    spark.stop()

    // Scaling diagnostic (traced crawl runs only): the first measured wave
    // again on one core, with the same partition count, resumed from the
    // state the session had after its warm-up waves.
    if (scaling) {
      val one = session(1)
      val rep1 = new Report(workload, seed, 1)
      guarded(rep1, stateDir("warm"))(CrawlSession.resume(one, rep1, seed,
        partitions, Some(new Tracer(one)), stateDir("warm")))
      one.stop()
      rep.check("local[1] resume leaves the same seen table") {
        val (a, b) = (rep.fingerprints.get("seen_scaling_waves"),
          rep1.fingerprints.get("seen_scaling_waves"))
        (a.isDefined && a == b, s"local[$cores] $a, local[1] $b")
      }
      CrawlSession.Phases.foreach { ph =>
        rep.layers(s"CrawlEngine.$ph.busy_s_1core") =
          rep1.layers.getOrElse(s"CrawlEngine.$ph.busy_s", Double.NaN)
      }
      // the same waves from the same state: wall time at 1 core over
      // wall time at `cores` cores, per core
      val wall = Seq(rep, rep1).map(_.samples.get("wave_s")
        .map(_._2.take(CrawlSession.ScalingWaves).sum))
      rep.layers("CrawlEngine.scaling_eff") = wall(0).zip(wall(1))
        .map { case (n, o) => o / n / cores }.getOrElse(Double.NaN)
      rep.attempted += rep1.attempted
      rep.failures ++= rep1.failures.map(f => f + ("op" -> s"local[1] ${f("op")}"))
    }
    rep.sample("jvm_gc_s", "s", Common.gcSeconds())
    rep.sample("jvm_jit_s", "s", Common.jitSeconds())
    println(rep.json)
  }

  /** Run `f`; a throw is a failed operation with its cause. The run's
    * crawl state is deleted either way.
    */
  private def guarded(rep: Report, state: java.nio.file.Path)(f: => Unit): Unit =
    try f catch { case e: Throwable => rep.fail("run", e) }
    finally Common.deleteTree(state)
}
