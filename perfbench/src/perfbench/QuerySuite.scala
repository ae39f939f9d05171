package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{BenchProtocol, SparkEntry}
import graft.queries._

import Common._

/** `query_suite`: passes over a fixed selection of `SparkEntry.queries`,
  * one from each query module, on the sf0.01 tables shipped with the
  * benchmark. `BenchProtocol.fresh` runs before every query, as in
  * `Bench`. Each query's output is consumed by one fingerprint action
  * (row count plus an order-insensitive hash of every column), so the
  * timed action also yields the values the output check compares.
  *
  * A full pass over all 83 queries takes ~36 s warm on a 4-core host,
  * more than one run of the benchmark can afford; the selection takes one
  * query per module, favouring the families ROADMAP names: TPC-H, the
  * full wave schedule, the J4 near-dup kernel, LSH vector search, media
  * decode and article extraction.
  */
object QuerySuite {
  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "TpchQueries" -> TpchQueries.defs, "CrawlQueries" -> CrawlQueries.defs,
    "TextQueries" -> TextQueries.defs, "EventQueries" -> EventQueries.defs,
    "MiscQueries" -> MiscQueries.defs, "DedupQueries" -> DedupQueries.defs,
    "VectorQueries" -> VectorQueries.defs, "ExtractQueries" -> ExtractQueries.defs)

  val Selected: Seq[String] = Seq(
    "q01_pricing_summary", "q_wave_schedule", "q_vocab", "q_hourly_rollup",
    "q_jpeg_decode", "q_dedup_reference", "q_vector_lsh", "q_article_assembly")

  /** Wall time of one warm pass on a 4-core host: `--seconds` buys
    * ceil(seconds / PassSeconds) measured passes, at least 3.
    */
  val PassSeconds = 4.0

  /** Passes before timing starts. Spark keeps handing the JIT new code,
    * so a pass's CPU time falls for about ten passes; after two passes
    * the measured ones still fell by a quarter from first to last, and
    * runs differed by how far the compiler had got.
    */
  val WarmUpPasses = 4

  /** Queries whose output depends on the current date; they are checked
    * by row count only. None of the selected queries reads the clock.
    */
  val DateDependent: Set[String] = Set.empty

  def moduleOf(q: String): String =
    Modules.find(_._2.exists(_.name == q)).map(_._1).get

  def run(spark: SparkSession, rep: Report, seed: Long, sessionS: Double,
          seconds: Double, tracer: Option[Tracer], dataDir: String,
          expectedFile: Path): Unit = {
    val t0 = System.nanoTime()
    val rnd = new scala.util.Random(seed)
    val results = scala.collection.mutable.LinkedHashMap[String, Set[(Long, String)]]()
    val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()

    def pass(label: String, measured: Boolean): Double = {
      val (_, s) = Common.seconds(rnd.shuffle(Selected).foreach { q =>
        BenchProtocol.fresh(spark)
        val id = s"$label $q"
        rep.op(id)(Common.seconds(traced(tracer, s"query $q", id, label)(
          runOne(spark, q, dataDir))))
          .foreach { case (out, s) =>
            results(q) = results.getOrElse(q, Set.empty) + out
            if (measured) {
              rep.sample("query_s", "s", s)
              times(q) = times.getOrElse(q, Vector.empty) :+ s
            }
          }
      })
      s
    }

    // A full collection after every pass, outside the timed window: each
    // pass starts from the same heap, and peak RSS follows the largest
    // pass instead of the garbage promoted over the whole run.
    (1 to WarmUpPasses).foreach { i =>
      pass(s"warm-up-$i", measured = false)
      System.gc()
    }
    rep.metric("setup_s", "s", sessionS + (System.nanoTime() - t0) / 1e9)

    // a fixed pass count (not a time box), so every run of a commit
    // measures the same passes
    val passes = math.max(3, math.ceil(seconds / PassSeconds).toInt)
    val measureFrom = System.currentTimeMillis()
    (1 to passes).foreach { i =>
      val label = s"pass-$i"
      val cpu0 = cpuSeconds()
      val s = traced(tracer, label, label, "session")(pass(label, measured = true))
      rep.sample("suite_s", "s", s)
      rep.sample("suite_cpu_s", "s", cpuSeconds() - cpu0)
      System.gc()
    }
    val measureTo = System.currentTimeMillis()
    // per query, the median over passes: a pass that a stall hit shifts
    // one sample per query, not the whole figure
    val perQuery = times.values.map(ts => Stats.median(ts)).toSeq
    val suite = rep.samples("suite_s")._2.toSeq
    val qs = rep.samples.get("query_s").map(_._2.toSeq).getOrElse(Nil)
    if (perQuery.size == Selected.size) {
      rep.metric("session_s", "s", perQuery.sum)
      rep.metric("throughput_per_s", "1/s", Selected.size / perQuery.sum)
      rep.metric("op_s_p50", "s", Stats.median(perQuery))
    }
    rep.metric("session_cpu_s", "s", Stats.median(rep.samples("suite_cpu_s")._2.toSeq))
    if (qs.nonEmpty) {
      rep.sample("query_s_p50", "s", Stats.median(qs))
      rep.sample("query_s_p85", "s", Stats.quantile(qs, 0.85))
    }

    val expected = Files.readAllLines(expectedFile).asScala
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
    Selected.foreach { q =>
      rep.check(s"$q output") {
        val seen = results.getOrElse(q, Set.empty)
        val want = expected.get(q)
        val ok = want.exists { case (rows, hash) =>
          seen.nonEmpty && seen.forall(o => o._1 == rows &&
            (DateDependent(q) || o._2 == hash))
        }
        (ok, s"expected ${want.getOrElse("-")}, got ${seen.mkString(" ")}")
      }
    }

    tracer.foreach { tr =>
      val passes = suite.size.toDouble
      Modules.foreach { case (m, _) =>
        val names = Selected.filter(moduleOf(_) == m).toSet
        val w = tr.work(d => names.contains(d.stripPrefix("query ")),
          measureFrom, measureTo)
        val wall = tr.spanSeconds(s => names.exists(n => s == s"query $n"),
          measureFrom, measureTo) / passes
        rep.layers(s"queries.$m.wall_s") = wall
        rep.layers(s"queries.$m.busy_s") = w.busyS / passes
        rep.layers(s"queries.$m.busy_share") =
          if (wall > 0) w.busyS / passes / (wall * rep.cores) else 0.0
        rep.layers(s"queries.$m.jobs") = w.jobs / passes
        rep.layers(s"queries.$m.shuffle_write_mb") = w.shuffleWriteMb / passes
      }
    }
  }

  private def runOne(spark: SparkSession, q: String, dataDir: String): (Long, String) =
    tagged(spark, s"query $q")(fingerprint(SparkEntry.queries(q)(spark, dataDir)))
}
