package graft.perfbench

import graft.SparkEntry
import graft.fixtures.FixtureGen
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The `ops_corpus` workload: `SparkEntry.queries` leaves over a generated
  * corpus shaped like the sf0.1 test data's `documents` table. A timed pass
  * runs the [[Leaves]] once each and collects their rows; a traced run also
  * times the [[TracedLeaves]]. Every call's result digest must equal the
  * leaf's first, and each leaf's first rows are written out for `run.py` to
  * compare with its DuckDB oracle (`SparkEntry.oracleSql`).
  */
object Corpus {
  import PerfBench._

  /** Leaves the end-to-end metrics time. MinHash LSH spends its time in
    * executor hashing over every shingle, so its seconds follow the corpus
    * rather than the driver's per-job latency; on a shared 4-core host the
    * per-run medians of the driver-bound leaves below moved by 15-30 %
    * between runs of the same code, this one by under 10 %.
    */
  val Leaves: Seq[String] = Seq("dedup_minhash_lsh")

  /** Leaves timed only in a traced run, for the `ops.<leaf>_s` layer
    * numbers: the stats-only BM25 wave and SimHash over the repartitioned
    * input both carry a ROADMAP open item.
    */
  val TracedLeaves: Seq[String] = Seq("search_batch_stats", "dedup_simhash")
  /** Calls per traced leaf; the layer number is the median of all but the
    * first (cold) call.
    */
  val TracedCalls = 3

  /** Passes before measuring: the first call is several times slower (class
    * loading, code generation) and the JIT keeps speeding up the next few.
    */
  val WarmPasses = 3
  val MeasuredPasses = 3

  val Documents = 20000

  private val Vocabulary = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Array("en", "en", "en", "fr", "es", "zh", "de")

  def document(seed: Long, id: Long): (Long, String, String, String, Long) = {
    var r = FixtureGen.mix(seed * 0x9e3779b97f4a7c15L ^ id)
    val n = 10 + math.floorMod(r, 91L).toInt
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      r = FixtureGen.mix(r)
      if (i > 0) sb.append(' ')
      sb.append(Vocabulary(math.floorMod(r, Vocabulary.length.toLong).toInt))
      i += 1
    }
    r = FixtureGen.mix(r)
    if (math.floorMod(r, 20L) == 0L) sb.append(" dup")
    val text = sb.toString
    (id, text, Langs(math.floorMod(r >> 8, Langs.length.toLong).toInt), s"src${id % 20}",
      text.length.toLong)
  }

  def writeTables(spark: SparkSession, seed: Long, dir: String, cores: Int): Unit = {
    import spark.implicits._
    spark.range(0, Documents, 1, cores).map(id => document(seed, id))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Order-independent digest of a leaf result: columns by name, doubles
    * rounded to 6 places, rows sorted.
    */
  def digest(rows: Array[Row], columns: Array[String]): String = {
    val order = columns.indices.sortBy(columns(_))
    def show(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case x => x.toString
    }
    val lines = rows.map(r => order.map(i => show(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def opsCorpus(spark: SparkSession, run: Run): Unit = {
    val data = run.dir("corpus")
    Crawls.setup(run) { _ => writeTables(spark, run.seed, data, run.cores) }
    val reference = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

    /** One leaf: time the query and its collect; check the digest. */
    def leaf(name: String, spans: Option[Spans]): Option[Double] = {
      val ((rows, schema), t) = secs {
        spans.fold(runLeaf(spark, name, data))(_(s"ops.$name")(runLeaf(spark, name, data)))
      }
      calls(name) += 1
      val d = digest(rows, schema.fieldNames)
      val first = !reference.contains(name)
      if (first) {
        reference(name) = d
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${run.work}/leaf-out/$name")
      }
      val ok = run.checked(s"leaf $name",
        if (reference(name) == d) Nil else Seq(s"digest ${d.take(12)} != ${reference(name).take(12)}"))
      if (ok) Some(t) else None
    }

    def pass(spans: Option[Spans]): Option[Seq[Double]] = {
      val times = Leaves.map(l => leaf(l, spans))
      if (times.forall(_.isDefined)) Some(times.flatten) else None
    }

    run.phase("warmup")(Seq.fill(WarmPasses)(pass(None)))
    run.measure(minIters = MeasuredPasses) { _ =>
      pass(None).foreach { ts =>
        run.sample("ops_total_s", ts.sum)
        run.sample("ops_geomean_s", math.exp(ts.map(math.log).sum / ts.size))
        run.sample("ops_leaves_per_s", ts.size / ts.sum)
        Leaves.zip(ts).foreach { case (l, t) => run.sample(s"leaf.$l", t) }
      }
    }

    if (run.traced) {
      val spans = new Spans(s"ops_corpus-${run.seed}")
      val rec = new DriverRecorder(spark.sparkContext)
      rec.settle(); rec.reset()
      val from = spans.nowMs
      val (traced, t) = secs(pass(Some(spans)))
      val to = spans.nowMs
      rec.settle()
      Traced.finish(run, spans, rec, from, to, rounds = 0,
        untracedS = median(run.samples("ops_total_s").toSeq), tracedS = t, traced.isDefined)
      Leaves.foreach(l => run.layers(s"ops.${l}_s") = median(run.samples(s"leaf.$l").toSeq))
      spans.write(new java.io.File(run.work, "spans.jsonl").getPath)
      TracedLeaves.foreach { l =>
        val ts = (0 until TracedCalls).flatMap(_ => leaf(l, None)).drop(1)
        if (ts.nonEmpty) run.layers(s"ops.${l}_s") = median(ts)
      }
    }
    run.report("leaf_calls") = calls.toMap
    writeOracles(run, reference.keys.toSeq)
  }

  private def runLeaf(spark: SparkSession, name: String, data: String): (Array[Row], StructType) = {
    val df = SparkEntry.queries(name)(spark, data)
    (df.collect(), df.schema)
  }

  private def writeOracles(run: Run, leaves: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(s"${run.work}/oracles.json", "UTF-8")
    try w.println(Json.render(leaves.map(l => l -> SparkEntry.oracleSql(l)).toMap))
    finally w.close()
  }
}
