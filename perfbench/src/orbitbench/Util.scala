package orbitbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Minimal JSON writer for flat and nested maps of numbers/strings. */
object Json {
  def value(v: Any): String = v match {
    case null                         => "null"
    case s: String                    => quote(s)
    case b: Boolean                   => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                    => d.toString
    case f: Float                     => value(f.toDouble)
    case n: Number                    => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_]              => xs.map(value).mkString("[", ", ", "]")
    case other                        => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): String = value(scala.collection.immutable.ListMap(kvs: _*))

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b.append("\\\"")
      case '\\'         => b.append("\\\\")
      case '\n'         => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c            => b.append(c)
    }
    b.append('"').toString
  }
}

object Stats {
  /** Linear-interpolation quantile (q in [0,1]) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Util {
  def log(msg: String): Unit = System.err.println(s"[orbitbench] $msg")

  /** Run `f`, logging its wall time under `what`. */
  def step[T](what: String)(f: => T): T = {
    val (r, s) = timed(f)
    log(f"$what%-28s $s%8.3f s")
    r
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0))
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Regular files under `dir` (recursive): (count, bytes). Hidden
    * bookkeeping files (`.crc`, `_SUCCESS`) are excluded.
    */
  def dataFiles(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var n = 0L; var b = 0L
        s.iterator().forEachRemaining { p =>
          val f = p.getFileName.toString
          if (java.nio.file.Files.isRegularFile(p) && !f.startsWith(".") && !f.startsWith("_")) {
            n += 1; b += java.nio.file.Files.size(p)
          }
        }
        (n, b)
      } finally s.close()
    }
  }

  /** Physical plan nodes after AQE, in pre-order: descend through
    * adaptive wrappers and query stages so SQL metrics of the executed
    * nodes are read.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  /** (files read, rows output) summed over the file scans of an
    * executed plan.
    */
  def scanStats(plan: SparkPlan): (Long, Long) = {
    val scans = nodes(plan).collect { case s: FileSourceScanExec => s }
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum)
  }

  def scanStats(df: DataFrame): (Long, Long) = scanStats(df.queryExecution.executedPlan)

  /** Rows fed into each sort-limit top-k node of an executed plan (the
    * output of the first node below it that counts rows), summed: the
    * candidates a top-k query scored.
    */
  def topKInputRows(plan: SparkPlan): Long =
    nodes(plan).collect { case t: TakeOrderedAndProjectExec =>
      nodes(t.child).find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(0L)
    }.sum

  /** Drop cached blocks between repetitions so none inherits another's. */
  def resetCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
