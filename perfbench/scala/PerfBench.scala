package graft.perfbench

import graft.BenchGate
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark main. One JVM runs one workload at `local[cores]` and prints
  * one line `PERFBENCH {json}` on stdout with the raw samples, the checks
  * and (traced runs) the per-layer metrics; `perfbench/run.py` builds,
  * launches and summarizes it.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cores C`. Inputs derive from the seed only; every file the run writes
  * lives under `--work`.
  */
object PerfBench {

  /** Where a run records its samples, checks and layer numbers. */
  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val traced: Boolean, val work: String, val cores: Int) {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** Named sample series; only operations whose checks passed land here. */
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val report = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

    /** Count one checked operation; record why it failed, if it did. */
    def checked(what: String, problems: Seq[String]): Boolean = {
      attempted += 1
      if (problems.nonEmpty) {
        failed += 1
        if (failures.size < 20) failures += s"$what: ${problems.take(3).mkString("; ")}"
      }
      problems.isEmpty
    }

    /** Run an unmeasured phase and record its seconds in the report. */
    def phase[T](name: String)(body: => T): T = {
      val (r, t) = secs(body)
      report(s"${name}_s") = t
      r
    }

    def dir(name: String): String = {
      val d = new java.io.File(work, name)
      d.mkdirs()
      d.getAbsolutePath
    }

    /** Repeat `iteration` until `seconds` of wall time have passed, at
      * least `minIters` times. A full collection before each iteration keeps
      * the previous one's garbage from landing inside the next one's timing.
      */
    def measure(minIters: Int)(iteration: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
        System.gc()
        iteration(i); i += 1
      }
      report("measured_s") = (System.nanoTime() - t0) / 1e9
    }
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Host-noise probes: recorded around the run, never used to drop it. */
  private def probes(cores: Int): Map[String, Double] = Map(
    "cpu_probe_s" -> BenchGate.probeSecs(cores, minOf = 1),
    "mem_probe_s" -> BenchGate.memProbeSecs(cores, minOf = 1))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("cores").toInt)
    val before = probes(run.cores)
    val (spark, sessionS) = secs(session(run.cores, run.work))
    run.report("session_s") = sessionS
    try {
      run.workload match {
        case "round_bulk" => Crawls.roundBulk(spark, run)
        case "drain_open" => Crawls.drainOpen(spark, run)
        case "crawl_polite_store" => Crawls.politeStore(spark, run)
        case "ops_corpus" => Corpus.opsCorpus(spark, run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    val after = probes(run.cores)
    run.report("probes_before") = before
    run.report("probes_after") = after
    println("PERFBENCH " + Json.render(Map(
      "workload" -> run.workload,
      "seed" -> run.seed,
      "cores" -> run.cores,
      "traced" -> run.traced,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "samples" -> run.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "report" -> run.report.toMap,
      "layers" -> run.layers.toMap)))
  }
}

/** Just enough JSON for the result line. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}
