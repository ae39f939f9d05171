package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Common {

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, all threads, in seconds. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** `f` as a span of `tracer`, if the run is traced. */
  def traced[T](tracer: Option[Tracer], name: String, id: String,
                parent: String)(f: => T): T =
    tracer.fold(f)(_.span(name, id, parent)(f))

  /** Run `f` with every Spark job it starts tagged `desc`. */
  def tagged[T](spark: SparkSession, desc: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(desc)
    try f finally spark.sparkContext.setJobDescription(null)
  }

  /** Materialize every column of `df` without collecting it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Doubles rounded to 6 decimals, maps as sorted entry arrays, so a
    * hash does not depend on floating-point summation order or on map
    * entry order.
    */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** Order-insensitive fingerprint of a relation, in one Spark job:
    * row count plus two hash folds over every (normalized) column.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => normalized(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(bit_xor(col("h")), lit(0L)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L))).head()
    (r.getLong(0), f"${r.getLong(1)}%016x-${r.getLong(2)}%x")
  }

  /** Bytes of every regular file under `root`. */
  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }

  /** Collection time of every garbage collector of this JVM, in seconds. */
  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Time the JIT compilers of this JVM have spent, in seconds. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
