package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic scored text retrieval — the reference's primary READ path
  * re-expressed Spark-native: every exporter flows through an ES bool/should
  * of per-field match_phrase clauses with field boosts question:5 answer:3
  * content:2, a min_score floor, and score-desc ordering
  * (/root/reference/src/elasticsearch_service.py:418-436,462-476; consumed
  * by html_converter/csv exporters). ES scores each clause with the field's
  * own BM25 statistics and sums matched clauses; this operator keeps that
  * shape (per-field BM25, boost-weighted sum over fields and query terms)
  * while staying fully deterministic and SQL-expressible — hence
  * DuckDB-oraclable, which an opaque Lucene score never is.
  *
  * Scale shape (100 TB): corpus statistics (tf, doc length, docfreq) are
  * ONE tokenize pass + hash partial-aggregations. Query terms are a
  * broadcast (queries are human-sized), so the candidate join filters the
  * big tf table map-side — no corpus shuffle keyed on anything but the
  * aggregation itself; per-term docfreq joins are broadcasts of
  * query-term-only slices. Only matched candidates reach the doc-length
  * join and the per-query top-k window.
  */
object Search {

  /** A searchable field and its boost (reference: question 5 / answer 3 /
    * content 2, elasticsearch_service.py:431-435).
    */
  final case class Field(name: String, boost: Double)

  /** (id, field, txt) long view of the per-field columns in ONE corpus
    * scan: explode over an array of (field, text) structs, instead of the
    * former |fields|-branch unionAll — which re-scanned the corpus once
    * per field (3 full scans per pass at 100 TB). `txtOf` is the per-site
    * normalization (lower for the direct scorer, canonText for the
    * phrase/index paths) — identical per-row values to the union form,
    * row order aside.
    */
  private def fieldsLongOf(docs: DataFrame, fields: Seq[Field],
      idCol: String, txtOf: Column => Column): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(array(fields.map(f =>
          struct(lit(f.name).as("field"), txtOf(col(f.name)).as("txt"))): _*))
          .as("__fx"))
      .select(col("id"), col("__fx.field").as("field"), col("__fx.txt").as("txt"))

  /** BM25-scored top-k per query over multi-field documents.
    *
    * score(q, d) = Σ_fields Σ_{t ∈ q} boost_f · idf_f(t) · tf-sat_f(t, d)
    * with idf = ln(1 + (N - df + 0.5)/(df + 0.5)) and
    * tf-sat = tf·(k1+1) / (tf + k1·(1 - b + b·len/avglen)) — the Lucene
    * BM25 form. Scores are rounded to 6 decimals BEFORE the min_score
    * filter and the per-query rank so results are engine-reproducible;
    * ties break on doc id.
    *
    * @param docs    one row per document with `idCol` + one column per field
    * @param queries (queryIdCol, queryTextCol) — whitespace-tokenized bag
    *                of terms; for the reference's actual match_phrase
    *                (consecutive-term) gate use [[bm25PhraseTopK]]
    *
    * Eager and not recoverable: constructing the returned frame already
    * runs a `localCheckpoint` wave ([[graft.Waves]]) over the corpus, so
    * corpus-read failures surface here, not at the caller's action. The
    * checkpointed statistics live only in executor storage, without
    * lineage: after an executor is lost the returned frame cannot be
    * recomputed, and the caller must call again.
    */
  def bm25TopK(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k: Int = 10,
      minScore: Double = 0.0,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val scored = bm25Scored(docs, fields, queries, idCol, queryIdCol,
      queryTextCol, k1, b)
      .filter(col("score") >= minScore)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

  /** Per-query envelope of the reference's batch search stream
    * (elasticsearch_service.py:487-560): `total_count` = hits clearing the
    * min_score floor (ES `track_total_hits` with `min_score` applied),
    * `relevant_count` = rows the stream actually yields after the
    * max_results cap, `max_score` for the caller's score-tier picker
    * (html_converter.py:433-437 tiers min_score by the query's phrase
    * count). One hash aggregation over the scored candidates — no window,
    * no per-query scroll.
    *
    * Eager and not recoverable, as [[bm25TopK]]: construction already runs
    * a `localCheckpoint` wave over the corpus, and after an executor is
    * lost the returned frame cannot be recomputed from lineage.
    */
  def bm25QueryStats(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      maxResults: Int = 100,
      minScore: Double = 0.0,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val stats =
      bm25Scored(docs, fields, queries, idCol, queryIdCol, queryTextCol, k1, b)
        .filter(col("score") >= minScore)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("__tc"), round(max(col("score")), 6).as("__ms"))
    // EVERY query gets an envelope row — a no-hit query reports
    // (total_count = 0, relevant_count = 0, max_score = null), matching the
    // reference stream's per-query summary (ES track_total_hits with
    // min_score yields 0, max_score null); dropping the row would make a
    // stats consumer silently under-report the query set
    queries.select(col(queryIdCol).as("qid")).distinct()
      .join(stats, Seq("qid"), "left")
      .select(col("qid").as(queryIdCol),
        coalesce(col("__tc"), lit(0L)).as("total_count"),
        least(coalesce(col("__tc"), lit(0L)), lit(maxResults.toLong))
          .as("relevant_count"),
        col("__ms").as("max_score"))
  }

  /** Shared scoring core: (qid, id, score) for every (query, doc) pair with
    * at least one matching term, score rounded to 6 decimals.
    *
    * Order of operations matters at 100 TB: the token stream is SEMI-JOINED
    * against the broadcast query-term set BEFORE the tf aggregation, so the
    * (field, id, term) hash aggregation — billions of groups corpus-wide —
    * only ever sees rows for the handful of query terms. (Catalyst will not
    * push a join below an aggregation on its own; aggregating the full
    * vocabulary first and joining after keeps df values identical but
    * shuffles the entire term space per call.) Docfreq for the surviving
    * terms is unchanged by the restriction. The remaining corpus-wide
    * aggregation is dlen/avgdl — per-(field, doc) lengths, which is exactly
    * what [[bm25Index]] persists so repeated query batches pay it once.
    */
  private def bm25Scored(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double,
      b: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val qterms = queries.select(col(queryIdCol).as("qid"),
        explode(split(lower(col(queryTextCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)

    // ONE corpus tokenize per call: the dl-carrying restricted tf
    // aggregation is CHECKPOINTED (candidate-sized) while per-field
    // avgdl and the doc count run CONCURRENTLY with it and come back as
    // local relations (the metaLocal pattern), so the wall stays one
    // corpus-pass wave; docfreq is [[withDf]] over the checkpoint. The
    // former fused lazy plan re-tokenized the corpus for docfreq and
    // joined a third corpus scan for doc length (see withDf for the
    // rejected window alternative).
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")
    def fieldsLong = fieldsLongOf(docs, fields, idCol, lower)
    val (tfC, avgl, n) = graft.Waves.all("bm25-scored")(
      tokensWithDl(fieldsLong)
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .groupBy("field", "id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .localCheckpoint(true),
      fieldsLong
        .select(col("field"),
          size(filter(split(col("txt"), " "), t => length(t) > 0)).as("dl"))
        .filter(col("dl") > 0)
        .groupBy("field").agg(avg(col("dl")).as("avgdl"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq,
      docs.count())
    scoreFromTf(withDf(tfC), qterms, avgl.toDF("field", "avgdl"), boosts,
      Seq(n).toDF("n"), k1, b)
  }

  /** (id, field, dl, term) token stream from a (id, field, txt) long view:
    * one row per token occurrence, each carrying its field's total token
    * count — same term set as explode-then-filter (the array is filtered
    * of empties before the explode), dl identical to the former dlen
    * projection (`size(filter(split(txt)))`).
    */
  private def tokensWithDl(fieldsLong: DataFrame): DataFrame =
    fieldsLong
      .select(col("id"), col("field"),
        filter(split(col("txt"), " "), t => length(t) > 0).as("__toks"))
      .select(col("id"), col("field"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))

  /** Docfreq attach over a tf frame (one row per (field, id, term)):
    * map-side-combined per-(field, term) count, broadcast back — over a
    * CHECKPOINTED tf this evaluates the corpus once; over a lazy tf the
    * subtree re-plans and AQE exchange reuse recovers at most part of it
    * (ProfileDfShapes, executed-plan listener: the lazy form measured
    * ~1.5x the checkpointed wall END-TO-END, checkpoint job included).
    * A `count over (partition by field, term)` WINDOW was measured and
    * rejected: it evaluates once but colocates every posting of a term
    * in ONE task — the hot-reducer shape AQE skew handling cannot split
    * (it only applies to joins), i.e. a 10^9-posting stop word becomes
    * a single-task sort at scale; the groupBy's partial aggregation
    * reduces a hot term to one row per partition before its exchange.
    */
  private def withDf(tf: DataFrame): DataFrame = {
    val qstats = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(qstats), Seq("field", "term"))
  }

  /** The BM25 join+score tail: tf rows already carrying (dl, df) × query
    * terms × per-field stats → (qid, id, score).
    */
  private def scoreFromTf(
      tfd: DataFrame,
      qterms: DataFrame,
      avgl: DataFrame,
      boosts: DataFrame,
      nDocs: DataFrame,
      k1: Double,
      b: Double): DataFrame = {
    tfd
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(avgl), Seq("field"))
      .join(broadcast(boosts), Seq("field"))
      .crossJoin(broadcast(nDocs))
      .withColumn("ts", col("boost") * idfCol * tfSatCol(k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .withColumn("score", round(col("score_raw"), 6))
      .select(col("qid"), col("id"), col("score"))
  }

  private def idfCol: Column = F.log(lit(1.0) +
    (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  private def tfSatCol(k1: Double, b: Double): Column =
    col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

  // ==================== phrase-aware retrieval ====================

  /** Whitespace-canonical view of a text column: lowered, runs of spaces
    * collapsed, trimmed — so token adjacency in the tokenized view equals
    * substring containment of one canonical phrase inside the canonical
    * field (` a b ` ⊂ ` ... a b ... `). DuckDB twin:
    * `trim(regexp_replace(lower(x), ' +', ' ', 'g'))`.
    */
  private def canonText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** The reference caller's per-query min_score tier by phrase count
    * (/root/reference/src/html_converter.py:431-437): base 1.5, `> 5`
    * phrases → 2.0, `elif > 2` → 2.5. The elif ordering means 3-5 phrases
    * get the HIGHEST floor — reproduced faithfully, oddity and all.
    */
  def phraseMinScore(nPhrases: Long): Double =
    if (nPhrases > 5) 2.0 else if (nPhrases > 2) 2.5 else 1.5

  private def phraseMinScoreCol(np: Column): Column =
    when(np > 5, lit(2.0)).when(np > 2, lit(2.5)).otherwise(lit(1.5))

  /** Phrase-gated BM25 top-k — the reference's actual read path: an ES
    * bool/should of one `match_phrase` clause per (phrase, field) with
    * `minimum_should_match: 1` (elasticsearch_service.py:400-437). A clause
    * contributes ONLY if the phrase's terms appear consecutively in that
    * field; a doc surfaces only if at least one clause matched. Clause
    * score here is the boost-weighted BM25 sum over the phrase's term
    * occurrences (deterministic, SQL-expressible — Lucene's sloppy
    * phrase-freq is opaque); doc score = Σ matched clauses, matching the
    * bool/should sum.
    *
    * `phraseQueries` is long-format: one row per (query_id, phrase).
    * When `minScore` is None, each query gets the reference caller's
    * phrase-count tier ([[phraseMinScore]]); pass Some(x) to override.
    *
    * Scale shape: the phrase gate is evaluated AT THE CORPUS SCAN as a
    * broadcast nested-loop (phrases are human-sized) — one `contains` per
    * (row, field, phrase), no shuffle, emitting only matched clause keys.
    * The token stream is query-term-restricted before aggregation exactly
    * as in [[bm25Scored]]; only matched clauses reach the score joins.
    *
    * Eager and not recoverable, as [[bm25TopK]]: construction already runs
    * a `localCheckpoint` wave over the corpus, and after an executor is
    * lost the returned frame cannot be recomputed from lineage.
    */
  def bm25PhraseTopK(
      docs: DataFrame,
      fields: Seq[Field],
      phraseQueries: DataFrame,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      phraseCol: String = "phrase",
      k: Int = 10,
      minScore: Option[Double] = None,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val phrases = phraseQueries
      .select(col(queryIdCol).as("qid"), canonText(col(phraseCol)).as("phrase"))
      .filter(length(col("phrase")) > 0)
      .distinct()

    // canonical per-field long view — the gate and the tokenizer each
    // scan it once (see fieldsLongOf)
    def fieldsLong = fieldsLongOf(docs, fields, idCol, canonText)

    val pterms = phrases
      .select(col("qid"), col("phrase"),
        explode(split(col("phrase"), " ")).as("term"))
      .filter(length(col("term")) > 0)

    def matchedGate = fieldsLong
      .crossJoin(broadcast(phrases))
      .filter(F.contains(concat(lit(" "), col("txt"), lit(" ")),
        concat(lit(" "), col("phrase"), lit(" "))))
      .select(col("qid"), col("phrase"), col("field"), col("id"))
    def tfAgg = tokensWithDl(fieldsLong)
      .join(broadcast(pterms.select("term").distinct()), Seq("term"))
      .groupBy("field", "id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    def avglAgg = fieldsLong
      .select(col("field"),
        size(filter(split(col("txt"), " "), t => length(t) > 0)).as("dl"))
      .filter(col("dl") > 0)
      .groupBy("field").agg(avg(col("dl")).as("avgdl"))
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")

    // FOUR independent corpus-shaped jobs as one concurrent wave (the
    // bm25Scored pattern): match_phrase gate and tf aggregation
    // checkpointed (candidate-sized), avgdl/count as local relations —
    // the corpus is gated and tokenized exactly once per call
    val (matched, tfd, avgl, nDocs) = {
      val (m, t, a, n) = graft.Waves.all("bm25-phrase")(
        matchedGate.localCheckpoint(true),
        tfAgg.localCheckpoint(true),
        avglAgg.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq,
        docs.count())
      (m, withDf(t), a.toDF("field", "avgdl"), Seq(n).toDF("n"))
    }

    // matched clause × its phrase's term occurrences → scoreable rows;
    // a gated clause implies tf >= 1 for every term, so the inner joins
    // drop nothing
    val clauseTerms = matched.join(broadcast(pterms), Seq("qid", "phrase"))

    val joined = clauseTerms
      .join(tfd, Seq("field", "id", "term"))
      .join(broadcast(avgl), Seq("field"))
      .join(broadcast(boosts), Seq("field"))
      .crossJoin(broadcast(nDocs))

    // clause score and doc score are both additive over these rows
    val scored = joined
      .withColumn("ts", col("boost") * idfCol * tfSatCol(k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .withColumn("score", round(col("score_raw"), 6))
      .select(col("qid"), col("id"), col("score"))

    val floored = minScore match {
      case Some(m) => scored.filter(col("score") >= m)
      case None =>
        val pcount = phrases.groupBy("qid").agg(count(lit(1)).as("np"))
        scored.join(broadcast(pcount), Seq("qid"))
          .filter(col("score") >= phraseMinScoreCol(col("np")))
          .drop("np")
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    floored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

  // ==================== persisted statistics index ====================

  /** One-pass persisted BM25 statistics artifact (the `lshBandIndex`
    * pattern): repeated query batches stop re-tokenizing the corpus.
    * Layout under `path`:
    *   - `tf/` — (field, id, term, tf) PARTITIONED BY tb =
    *     pmod(xxhash64(term), termBuckets): a query's terms map to a known
    *     bucket set, so the probe reads only those partitions
    *     (PartitionFilters — the IVF-clustered trick applied to an
    *     inverted index; at 100 TB the probe touches termBuckets⁻¹ of it)
    *   - `dlen/` — (field, id, dl) per-doc lengths, plus the canonical
    *     field text when `withText` (enables indexed phrase verification)
    *   - `meta/` — one row per field: (field, avgdl, n)
    */
  def bm25Index(
      docs: DataFrame,
      fields: Seq[Field],
      path: String,
      idCol: String = "doc_id",
      termBuckets: Int = 64,
      withText: Boolean = true): Unit = {
    // a fields-less index is meaningless and would only fail later,
    // deep inside the long-view analysis — fail at the API edge instead
    require(fields.nonEmpty, "bm25Index needs at least one field")
    val fieldsLong = fieldsLongOf(docs, fields, idCol, canonText)
    // tf rows carry the doc-field length (dl rides the token stream into
    // the aggregation): +8 denormalized bytes per posting buys the probes
    // out of the per-call corpus-sized dlen join — at 100 TB the
    // bag-of-terms probe then never touches dlen at all (avgdl/n come
    // from meta)
    val tok = tokensWithDl(fieldsLong)
    // the three corpus passes (tf write, dlen write, the doc count for
    // meta.n) are independent — run them as concurrent jobs so the build
    // pays one wave of cluster time, not three sequential job latencies
    // (guide §2.6: overlap independent jobs); meta then derives from the
    // written dlen alone
    val dlenCols =
      if (withText) Seq(col("field"), col("id"), col("dl"), col("txt"))
      else Seq(col("field"), col("id"), col("dl"))
    // dl = 0 rows (a doc whose field is empty — e.g. short docs with no
    // content tail) are DROPPED: the tokenize path has no dlen row for an
    // empty field, and keeping zeros here would deflate avgdl vs the
    // direct path (observed: every indexed score off by ~0.3%)
    // meta's per-field running sums RIDE the write as an observation —
    // the former shape re-read the written dlen and re-aggregated it, one
    // extra job per build (and a dlen-sized read at scale) for sums the
    // write job already streams past
    val obs = new org.apache.spark.sql.Observation()
    val obsCols = metaObsCols(fields)
    val (_, _, nDocs) = graft.Waves.all("bm25-index")(
      tok.groupBy("field", "id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(termBuckets.toLong)))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/tf"),
      fieldsLong
        .withColumn("dl",
          size(filter(split(col("txt"), " "), t => length(t) > 0)))
        .filter(col("dl") > 0)
        .select(dlenCols: _*)
        .observe(obs, obsCols.head, obsCols.tail: _*)
        .write.mode("overwrite").parquet(s"$path/dlen"),
      docs.count())
    val spark = docs.sparkSession
    writeMeta(spark, path,
      observedSums(spark, obs, fields).getOrElse(
        // unsupported-runtime fallback: the old re-read + re-aggregate
        spark.read.parquet(s"$path/dlen")
          .groupBy("field").agg(sum(col("dl")).as("sum_dl"),
            count(lit(1)).as("cnt"))),
      nDocs, termBuckets, withText, withDl = true)
  }

  /** Per-field (sum_dl, cnt) observation columns for a dlen write — one
    * pair per field, read back by [[observedSums]].
    */
  private def metaObsCols(fields: Seq[Field]): Seq[Column] =
    fields.zipWithIndex.flatMap { case (f, i) => Seq(
      sum(when(col("field") === f.name, col("dl"))).as(s"__s$i"),
      count(when(col("field") === f.name, lit(1))).as(s"__c$i")) }

  /** The (field, sum_dl, cnt) frame from a completed [[metaObsCols]]
    * observation — None when the runtime never delivers observed metrics
    * (callers then fall back to re-aggregating). Fields with zero dlen
    * rows are dropped, exactly like the groupBy they replace.
    */
  private def observedSums(spark: org.apache.spark.sql.SparkSession,
      obs: org.apache.spark.sql.Observation,
      fields: Seq[Field]): Option[DataFrame] = {
    import spark.implicits._
    val vals = fields.indices.map { i =>
      (graft.ObservedMetrics.longField(obs, s"__s$i")(Long.MinValue),
        graft.ObservedMetrics.longField(obs, s"__c$i")(Long.MinValue))
    }
    if (vals.exists(v => v._1 == Long.MinValue || v._2 == Long.MinValue)) None
    else Some(fields.zip(vals).collect {
      case (f, (s, c)) if c > 0 => (f.name, s, c)
    }.toDF("field", "sum_dl", "cnt"))
  }

  /** Meta = one row per field: (field, avgdl, sum_dl, cnt, n). The RUNNING
    * SUMS are stored alongside the derived avgdl so [[bm25IndexAppend]]
    * can update the averages from the delta alone — O(delta), never a
    * corpus re-aggregation. `with_dl` records whether tf postings carry
    * the dl column, so an append learns the standing layout from the meta
    * it already reads instead of listing the whole tf directory for one
    * schema bit. Written temp-then-rename (atomic on local/HDFS) because
    * append rewrites it in place.
    */
  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, sums: DataFrame, nDocs: Long, termBuckets: Int,
      withText: Boolean, withDl: Boolean): Unit = {
    val tmp = s"$path/_tmp_meta"
    sums
      .withColumn("avgdl", col("sum_dl").cast("double") / col("cnt"))
      .withColumn("n", lit(nDocs))
      .withColumn("term_buckets", lit(termBuckets))
      .withColumn("with_text", lit(withText))
      .withColumn("with_dl", lit(withDl))
      .select("field", "avgdl", "sum_dl", "cnt", "n", "term_buckets",
        "with_text", "with_dl")
      .write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"$path/meta")
    fs.delete(dst, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"meta rename failed for $dst")
  }

  /** O(delta) maintenance of a [[bm25Index]] — the daily-ingest path, the
    * fourth index family to get one (LSH band index, curated corpus, IVF
    * layout, now the inverted index): the new batch's tf rows APPEND into
    * their term-bucket partitions, its dlen rows append, and meta's
    * averages update from the delta's running sums alone. Searches via
    * [[bm25TopKIndexed]]/[[bm25PhraseTopKIndexed]] see the new docs
    * immediately; nothing corpus-sized is read or rewritten.
    *
    * Contract: delta ids are NEW (an id re-ingest would double-count its
    * tf rows — deletion/upsert is an Iceberg MERGE at the storage layer,
    * out of scope here as in the other index families).
    */
  def bm25IndexAppend(
      newDocs: DataFrame,
      fields: Seq[Field],
      path: String,
      idCol: String = "doc_id",
      termBuckets: Int = 64,
      withText: Boolean = true): Unit = {
    require(fields.nonEmpty, "bm25IndexAppend needs at least one field")
    val spark = newDocs.sparkSession
    // validate BEFORE the first write: a mismatched bucket count appended
    // tf rows into partitions probes never read (silently-missing docs)
    // and double-counted dlen on retry, with the loud failure arriving
    // only after the corruption was already on disk
    val oldMeta = spark.read.parquet(s"$path/meta")
    // an index built over docs whose fields are all empty has no meta
    // rows: its bucket count and layout bits are unknown, and every
    // max() read below would be null
    require(!oldMeta.isEmpty,
      s"bm25IndexAppend: index meta at $path/meta is empty (no field had " +
        "any token when the index was built); rebuild it with bm25Index")
    requireBuckets(oldMeta, termBuckets, "bm25IndexAppend")
    requireWithText(oldMeta, withText, "bm25IndexAppend")
    val fieldsLong = fieldsLongOf(newDocs, fields, idCol, canonText)
    // delta tf rows carry dl exactly like the build's (see bm25Index) —
    // unless the standing index predates the dl column: appending mixed
    // layouts would read back null dl for old rows, so match what's there
    val tok = tokensWithDl(fieldsLong)
    val tfAgg = tok.groupBy("field", "id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // standing layout from the meta this append already read (one small
    // parquet, no tf-directory listing); indexes predating the with_dl
    // bit fall back to the tf schema check once — and this append then
    // records the answer in the meta it rewrites
    val standingDl =
      if (oldMeta.columns.contains("with_dl"))
        oldMeta.select(max(col("with_dl"))).head().getBoolean(0)
      else spark.read.parquet(s"$path/tf").columns.contains("dl")
    val tfOut = if (standingDl) tfAgg else tfAgg.drop("dl")
    val dlenCols =
      if (withText) Seq(col("field"), col("id"), col("dl"), col("txt"))
      else Seq(col("field"), col("id"), col("dl"))
    val deltaDlen = fieldsLong
      .withColumn("dl",
        size(filter(split(col("txt"), " "), t => length(t) > 0)))
      .filter(col("dl") > 0)
    // the three delta passes (tf append, dlen append, the doc count for
    // meta.n) are independent — concurrent jobs, mirroring bm25Index; the
    // delta's per-field sums RIDE the dlen append as an observation (the
    // former separate deltaSums aggregation re-evaluated the whole
    // fieldsLong pipeline — a second full delta pass per append)
    val obs = new org.apache.spark.sql.Observation()
    val obsCols = metaObsCols(fields)
    val (_, _, nNew) = graft.Waves.all("bm25-append")(
      tfOut
        .withColumn("tb", pmod(xxhash64(col("term")), lit(termBuckets.toLong)))
        .write.mode("append").partitionBy("tb").parquet(s"$path/tf"),
      deltaDlen.select(dlenCols: _*)
        .observe(obs, obsCols.head, obsCols.tail: _*)
        .write.mode("append").parquet(s"$path/dlen"),
      newDocs.count())
    // meta: old sums + delta sums (both tiny) — never re-reads dlen
    val deltaSums = observedSums(spark, obs, fields)
      .getOrElse(deltaDlen.groupBy("field")
        .agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("cnt")))
      .withColumnRenamed("sum_dl", "d_sum").withColumnRenamed("cnt", "d_cnt")
    val merged = oldMeta.select("field", "sum_dl", "cnt")
      .join(deltaSums, Seq("field"), "full_outer")
      .select(col("field"),
        (coalesce(col("sum_dl"), lit(0L)) + coalesce(col("d_sum"), lit(0L)))
          .as("sum_dl"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
          .as("cnt"))
    val nTotal = oldMeta.select(max(col("n"))).head().getLong(0) + nNew
    writeMeta(spark, path, merged, nTotal, termBuckets, withText,
      withDl = standingDl)
  }

  /** Maintenance compaction for an append-grown [[bm25Index]]: every
    * [[bm25IndexAppend]] adds ~1 file per touched tb partition (and one
    * more dlen file), so 10^4 daily batches re-create the small-files
    * listing pathology the curation and crawl stores already guard
    * against. Rewrites tf (re-partitioned by tb) and dlen in place via
    * write-tmp + rename-swap; meta is untouched (append keeps it exact).
    * Single-writer maintenance op: the swap window (old renamed away, new
    * renamed in) is not atomic for concurrent readers — run it like any
    * index rebuild, between query batches.
    */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String,
      filesPerBucket: Int = 1,
      dlenFiles: Int = 0): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def swap(sub: String, write: String => Unit): Unit = {
      import org.apache.hadoop.fs.Path
      val tmp = new Path(s"$path/_tmp_$sub")
      val live = new Path(s"$path/$sub")
      val old = new Path(s"$path/_old_$sub")
      fs.delete(tmp, true); fs.delete(old, true)
      write(tmp.toString)
      require(fs.rename(live, old), s"compact: rename $live -> $old failed")
      require(fs.rename(tmp, live), s"compact: rename $tmp -> $live failed")
      fs.delete(old, true)
    }
    // repartition by (tb, salt): each bucket lands in exactly
    // `filesPerBucket` write tasks → that many files per partition dir,
    // regardless of how many appends accumulated (size the salt so one
    // file stays a healthy parquet row-group multiple at the target SF)
    val tf = spark.read.parquet(s"$path/tf").localCheckpoint(true)
    swap("tf", out => tf
      .repartition(col("tb"), pmod(xxhash64(col("id")), lit(filesPerBucket.toLong)))
      .write.partitionBy("tb").parquet(out))
    val dlen0 = spark.read.parquet(s"$path/dlen").localCheckpoint(true)
    val dlen = if (dlenFiles > 0) dlen0.repartition(dlenFiles) else dlen0
    swap("dlen", out => dlen.write.parquet(out))
  }

  /** Read the field-count-sized meta table ONCE on the driver and return
    * (avgl, nDocs) as local relations, enforcing the bucket guard from the
    * same rows. A probe's meta needs are a handful of scalars; deriving
    * them as three separate parquet subplans cost three jobs/AQE stages
    * per probe call.
    */
  private def metaLocal(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, termBuckets: Int, caller: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$indexPath/meta")
    val cols = meta.columns.toSet
    val rows = meta.select(col("field"), col("avgdl"), col("n"),
      (if (cols.contains("term_buckets")) col("term_buckets")
       else lit(-1)).as("term_buckets")).collect()
    rows.foreach { r =>
      val stored = r.getInt(3)
      require(stored == -1 || stored == termBuckets,
        s"$caller: index was written with termBuckets=$stored, called with $termBuckets")
    }
    val avgl = rows.toSeq.map(r => (r.getString(0), r.getDouble(1)))
      .toDF("field", "avgdl")
    // empty meta = empty-corpus index; tf is empty too, so any n works —
    // 0 keeps the probe well-defined instead of throwing on max()
    val nDocs = Seq(if (rows.isEmpty) 0L else rows.map(_.getLong(2)).max).toDF("n")
    (avgl, nDocs)
  }

  /** The bucket count is PERSISTED in meta (term_buckets): a probe or
    * append run with a different count would silently hash query terms
    * into the wrong partitions — fail loudly instead.
    */
  private def requireBuckets(meta: DataFrame, termBuckets: Int,
      caller: String): Unit =
    if (meta.columns.contains("term_buckets")) {
      val stored = meta.select(max(col("term_buckets"))).head().getInt(0)
      require(stored == termBuckets,
        s"$caller: index was written with termBuckets=$stored, called with $termBuckets")
    }

  /** Like the bucket count, withText is PERSISTED (meta.with_text):
    * appending withText=false rows into a withText=true index writes dlen
    * files lacking the txt column — appended docs read back with null
    * stored text and the indexed phrase gate silently never matches them
    * (the same silently-missing-docs class the bucket guard exists for).
    * Indexes written before the flag existed (no with_text column) are
    * accepted as-is.
    */
  private def requireWithText(meta: DataFrame, withText: Boolean,
      caller: String): Unit =
    if (meta.columns.contains("with_text")) {
      val stored = meta.select(max(col("with_text"))).head().getBoolean(0)
      require(stored == withText,
        s"$caller: index was written with withText=$stored, called with $withText")
    }

  /** Indexed probe: identical results to [[bm25TopK]] over the same docs /
    * fields (boosts are query-time), but the corpus is never re-tokenized —
    * tf is read with a `tb` PARTITION filter covering only the query
    * terms' buckets, df aggregates that pruned slice (all rows for a term
    * live in its one bucket, so df is exact), and dlen/meta are plain
    * reads. The only per-call corpus-shaped work is the candidate × dlen
    * join on (field, id).
    */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      fields: Seq[Field],
      termBuckets: Int = 64,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k: Int = 10,
      minScore: Double = 0.0,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val qterms = queries.select(col(queryIdCol).as("qid"),
        explode(split(lower(col(queryTextCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // the probed bucket set is |query terms| ints — driver-side by design
    // (it must become a partition-pruning predicate, like IVF's cids)
    val buckets = qterms.select(
        pmod(xxhash64(col("term")), lit(termBuckets.toLong)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val tfRaw = spark.read.parquet(s"$indexPath/tf")
    val tf = tfRaw
      .filter(col("tb").isin(buckets: _*))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
    // meta is one row per FIELD — collect it once and feed avgdl/n back as
    // local relations: the former three meta subplans (bucket-guard head(),
    // avgl scan, nDocs limit scan) each cost their own job/AQE stage per
    // probe for a handful of values
    val (avgl, nDocs) = metaLocal(spark, indexPath, termBuckets, "bm25TopKIndexed")
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")
    // docfreq as a map-side-combined groupBy over the pruned tf slice,
    // broadcast back — skew-safe (a window over (field, term) would
    // single-task a hot term's postings; see withDf). The qstats
    // derivation re-evaluates the tb-PRUNED scan (termBuckets⁻¹ of the
    // index — bounded, unlike the direct path's corpus re-tokenize), the
    // price of keeping the probe's tb PartitionFilters visible in its
    // own plan (spec-asserted; a checkpoint would bury the scan in a
    // construction job). dl is read straight off the posting when the
    // index carries it; only a pre-dl index still pays the corpus-sized
    // dlen join
    val qstats = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
    val tfd0 = tf.join(broadcast(qstats), Seq("field", "term"))
    val tfd =
      if (tfRaw.columns.contains("dl")) tfd0
      else tfd0.join(spark.read.parquet(s"$indexPath/dlen")
        .select("field", "id", "dl"), Seq("field", "id"))

    val scored = scoreFromTf(tfd, qterms, avgl, boosts, nDocs, k1, b)
      .filter(col("score") >= minScore)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

  /** Indexed phrase probe — [[bm25PhraseTopK]] semantics over a
    * [[bm25Index]] written `withText = true`: identical results, but the
    * corpus is never re-tokenized AND the match_phrase gate runs over
    * CANDIDATE rows only. Where the direct path evaluates contains() at
    * the full corpus scan (mandatory there — it is tokenizing anyway),
    * here term-matched candidates from the tb-pruned tf slice join back
    * to their stored canonical text by (field, id), so at 100 TB the gate
    * touches |candidates| rows, not the corpus — the positions-of-matched-
    * postings shape of a real search engine.
    */
  def bm25PhraseTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      phraseQueries: DataFrame,
      fields: Seq[Field],
      termBuckets: Int = 64,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      phraseCol: String = "phrase",
      k: Int = 10,
      minScore: Option[Double] = None,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val phrases = phraseQueries
      .select(col(queryIdCol).as("qid"), canonText(col(phraseCol)).as("phrase"))
      .filter(length(col("phrase")) > 0)
      .distinct()
    val pterms = phrases
      .select(col("qid"), col("phrase"),
        explode(split(col("phrase"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val buckets = pterms.select(
        pmod(xxhash64(col("term")), lit(termBuckets.toLong)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val tfRaw = spark.read.parquet(s"$indexPath/tf")
    val tf = tfRaw
      .filter(col("tb").isin(buckets: _*))
      .join(broadcast(pterms.select("term").distinct()), Seq("term"))
    val dlenFull = spark.read.parquet(s"$indexPath/dlen")
    require(dlenFull.columns.contains("txt"),
      "bm25PhraseTopKIndexed needs an index written withText = true")
    // one driver-side meta read (see bm25TopKIndexed)
    val (avgl, nDocs) = metaLocal(spark, indexPath, termBuckets,
      "bm25PhraseTopKIndexed")
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")
    // the pruned tf slice is CHECKPOINTED once: docfreq and the
    // candidate-key projection below both read it (each used to
    // re-derive the pruned scan); dl straight off the posting when the
    // index carries it (see bm25TopKIndexed) — dlen here then only
    // serves the candidate-text gate
    val tfC = tf.localCheckpoint(true)
    val tfd0 = withDf(tfC)
    val tfd =
      if (tfRaw.columns.contains("dl")) tfd0
      else tfd0.join(dlenFull.select("field", "id", "dl"), Seq("field", "id"))

    // candidate (field, doc) keys from the pruned postings → stored text →
    // the containment gate runs over candidates only
    val candText = tfC.select("field", "id").distinct()
      .join(dlenFull.select(col("field"), col("id"), col("txt")),
        Seq("field", "id"))
    val matched = candText
      .crossJoin(broadcast(phrases))
      .filter(F.contains(concat(lit(" "), col("txt"), lit(" ")),
        concat(lit(" "), col("phrase"), lit(" "))))
      .select(col("qid"), col("phrase"), col("field"), col("id"))
    val clauseTerms = matched.join(broadcast(pterms), Seq("qid", "phrase"))

    val joined = clauseTerms
      .join(tfd, Seq("field", "id", "term"))
      .join(broadcast(avgl), Seq("field"))
      .join(broadcast(boosts), Seq("field"))
      .crossJoin(broadcast(nDocs))
    val scored = joined
      .withColumn("ts", col("boost") * idfCol * tfSatCol(k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .withColumn("score", round(col("score_raw"), 6))
      .select(col("qid"), col("id"), col("score"))
    val floored = minScore match {
      case Some(m) => scored.filter(col("score") >= m)
      case None =>
        val pcount = phrases.groupBy("qid").agg(count(lit(1)).as("np"))
        scored.join(broadcast(pcount), Seq("qid"))
          .filter(col("score") >= phraseMinScoreCol(col("np")))
          .drop("np")
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    floored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }
}
