package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{UrlFunctions => U}
import graft.sources.SyntheticPages

/** Seeded inputs. `SyntheticPages` is a pure function of the page id, so
  * the seed enters only through WHICH ids are used: a seeded affine
  * permutation picks the seed urls and the frontier/seen ids, and a
  * seeded draw picks the near-duplicate subset and the robots hosts.
  * Every size below is fixed, so two seeds give the same load shape
  * (the same row counts, the same hot-host share, the same overlap).
  */
object Inputs {

  /** i -> (a*i + b) mod n with gcd(a, n) = 1: a bijection of [0, n). */
  final case class Perm(a: Long, b: Long, n: Long) {
    def apply(i: Column): Column = pmod(i * lit(a) + lit(b), lit(n))
  }

  def perm(seed: Long, salt: Long, n: Long): Perm = {
    val r = new scala.util.Random(seed * 1000003L + salt)
    var a = 1 + math.abs(r.nextLong() % (n - 1))
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 1
    Perm(a, math.abs(r.nextLong() % n), n)
  }

  private def hostName(hostId: Int): String = s"www.site$hostId.com"

  /** Disallow `prefix` on a seeded tenth of the cold hosts (never a hot
    * host, so the hot-host share of schedulable urls is seed-independent).
    */
  def robots(spark: SparkSession, seed: Long, hosts: Int, hotHosts: Int,
             prefix: String): DataFrame = {
    import spark.implicits._
    val cold = hotHosts until hosts
    new scala.util.Random(seed * 1000003L + 7).shuffle(cold.toVector)
      .take(cold.size / 10).sorted
      .map(h => hostName(h) -> Seq(prefix))
      .toDF("host", "disallowPrefixes")
  }

  def toAlt(url: Column): Column =
    regexp_replace(url, "/articles/story-", "/alt/story-")

  final case class Crawl(pages: DataFrame, seeds: DataFrame,
                         robots: DataFrame, altSeeds: Long)

  /** One crawl session's inputs: a `pagesN`-page universe over `hosts`
    * hosts (3 hot ones own ~30% of the pages), `seedCount` seed urls
    * drawn by a seeded permutation, and every 100th seed (seeded phase)
    * also served under an /alt/ url by a second source, so the J4 dedupe
    * has real cross-module near-duplicates to tombstone.
    */
  def crawl(spark: SparkSession, seed: Long, pagesN: Long, hosts: Int,
            hotHosts: Int, seedCount: Int): Crawl = {
    val p = perm(seed, 1, pagesN)
    val altPhase = new scala.util.Random(seed * 1000003L + 3).nextInt(100)
    val picked = spark.range(seedCount).select(col("id").as("i"),
      p(col("id")).as("pid"))
    val seeds = picked.select(
      lower(SyntheticPages.urlOf(col("pid"), hosts, hotHosts)).as("url"),
      lit("synthetic").as("source"), lit(0).as("priority"),
      col("i").as("seq"))
    val alt = seeds.filter(col("seq") % 100 === altPhase)
    val altUrls = alt.select("url").collect().map(_.getString(0)).toSeq
    val base = SyntheticPages.pages(spark, pagesN, hosts, hotHosts)
    val pages = base.unionByName(
      base.filter(col("url").isin(altUrls: _*))
        .withColumn("url", toAlt(col("url"))))
    val altSeeds = alt.select(toAlt(col("url")).as("url"),
      lit("synthetic_alt").as("source"), col("priority"),
      (col("seq") + 1000000L).as("seq"))
    Crawl(pages, seeds.unionByName(altSeeds),
      robots(spark, seed, hosts, hotHosts, "/articles/story-10"),
      altUrls.size.toLong)
  }

  final case class Frontier(frontier: DataFrame, seen: DataFrame,
                            robots: DataFrame)

  /** A scheduler input in the crawl engine's frontier schema:
    * `frontierN` urls (plus a re-discovered duplicate of every 20th,
    * which the first-seen dedupe must drop) and a `seenN`-url seen set
    * that contains the second half of the frontier.
    */
  def frontier(spark: SparkSession, seed: Long, frontierN: Long,
               seenN: Long, hosts: Int, hotHosts: Int,
               numPartitions: Int): Frontier = {
    val universe = Iterator.iterate(1L)(_ * 2).find(_ >= frontierN / 2 + seenN).get
    val p = perm(seed, 2, universe)
    def url(i: Column) = lower(SyntheticPages.urlOf(p(i), hosts, hotHosts))
    val rows = spark.range(frontierN).select(col("id").as("i"))
      .withColumn("url", url(col("i")))
    val first = rows.select(col("url"), col("i").as("seq"),
      pmod(xxhash64(col("i"), lit(seed)), lit(3L)).cast("int").as("priority"))
    val again = first.filter(col("seq") % 20 === 0)
      .select(col("url"), (col("seq") + frontierN).as("seq"),
        (col("priority") + 1).as("priority"))
    val frontier = first.unionByName(again).select(
      col("url"), lit("synthetic").as("source"),
      U.host(col("url")).as("host"),
      pmod(xxhash64(U.host(col("url"))), lit(numPartitions.toLong))
        .cast("int").as("hostHash"),
      col("priority"), lit(0L).as("waveDiscovered"), col("seq"),
      lit(0).as("attempts"), lit(0).as("depth"))
    val seen = spark.range(frontierN / 2, frontierN / 2 + seenN)
      .select(url(col("id")).as("url"))
    Frontier(frontier, seen,
      robots(spark, seed, hosts, hotHosts, "/articles/story-10"))
  }
}
