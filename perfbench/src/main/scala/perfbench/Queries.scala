package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The curation workload: one closed-loop client calling
  * `SparkEntry.queries` entries in a seed-permuted order, consuming each
  * result in full, while open-loop readers query the API.
  */
class QueryWorkload(data: String, warmData: String, work: String, seed: Long,
                    cores: Int) extends Workload {
  val name = "curation"
  private val queries = QueryWorkload.Curation
  private var spark: SparkSession = _
  private var api: Api = _
  private val nFiles = 40
  private val seen = collection.mutable.Set[(String, String)]()
  private val dumps = collection.mutable.ArrayBuffer[Map[String, Any]]()
  private val residue = collection.mutable.Map[Long, (Int, Int)]()
  private var kernels: Map[String, Double] = Map.empty

  def prepare(s: SparkSession): Unit = {
    spark = s
    Seq(data, warmData).foreach(d =>
      require(Files.isDirectory(Paths.get(d)), s"missing input directory $d"))
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    api = new Api(s, s"$work/api", _ => ())
    val at = new java.sql.Timestamp(0L)
    api.init((1 to nFiles).map(i => Api.fileRow(i.toLong, at)))
    api.start()
  }

  /** Every query once on the small inputs, three at a time. */
  def warmUp(): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val pending = queries.map { q =>
        pool.submit(() =>
          try { SparkEntry.queries(q)(spark, warmData).collect(); None }
          catch { case e: Exception => Some(s"$q: $e") })
      }
      pending.flatMap(_.get())
    } finally {
      pool.shutdown()
      clearResidue(Set.empty)
    }
  }

  def close(): Unit = if (api != null) { api.stop(); api = null }

  private def clearResidue(before: Set[Int]): Unit = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet -- before).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
  }

  private def run(q: String, pass: Int, id: Long): Op = {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val cacheBefore = org.apache.spark.sql.perfbench.Internals.cachedEntries(spark)
    val tag = s"${Trace.TagPrefix}op-$id"
    sc.addJobTag(tag)
    val t0 = Clock.now()
    var tAction = t0
    val result =
      try {
        val df = SparkEntry.queries(q)(spark, data)
        tAction = Clock.now()
        Right((df.collect(), df.schema))
      } catch { case e: Exception => Left(e.toString) }
      finally sc.removeJobTag(tag)
    val t1 = Clock.now()
    // untimed from here: residue, digest, first-seen dump for the oracle
    val activeJobs = sc.statusTracker.getActiveJobIds().length
    val leaked = (sc.getPersistentRDDs.keySet.toSet -- rddsBefore).size +
      math.max(0, org.apache.spark.sql.perfbench.Internals.cachedEntries(spark) - cacheBefore)
    residue(id) = (leaked, activeJobs)
    val deadline = Clock.now() + 60L * 1000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && Clock.now() < deadline)
      Thread.sleep(20)
    clearResidue(rddsBefore)
    result match {
      case Left(err) =>
        Op(id, "query", q, pass, t0, t0, t1, tAction, ok = false, error = err, tag = tag)
      case Right((rows, schema)) =>
        val digest = QueryWorkload.digest(rows)
        if (!seen.contains((q, digest))) {
          val dir = s"$work/dumps/$q/$digest"
          withAuxTag {
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(dir)
          }
          seen += ((q, digest))
          dumps += Map("query" -> q, "digest" -> digest, "path" -> dir, "rows" -> rows.length)
        }
        Op(id, "query", q, pass, t0, t0, t1, tAction, ok = true, error = "",
          digest = digest, tag = tag)
    }
  }

  private def withAuxTag[T](body: => T): T = {
    val sc = spark.sparkContext
    val tag = s"${Trace.TagPrefix}aux"
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  def measure(seconds: Double, tracer: Option[Tracer], firstId: Long): Phase = {
    val reader = new OpenLoopReader(api, cores, seed, nFiles)
    val ops = collection.mutable.ArrayBuffer[Op]()
    val start = Clock.now()
    val deadline = start + (seconds * 1e9).toLong
    reader.start()
    var pass = 0
    do {
      val rng = new scala.util.Random(seed * 7919L + firstId + pass)
      rng.shuffle(queries).foreach { q => ops += run(q, pass, firstId + ops.size) }
      pass += 1
    } while (Clock.now() < deadline)
    val gets = reader.stop()
    if (tracer.nonEmpty) kernels = withAuxTag(Kernels.measure(spark, data))
    Phase(ops.toSeq, gets, pass, Clock.seconds(start, Clock.now()))
  }

  def layers(phase: Phase, tracer: Tracer, cores: Int): Map[String, Double] = {
    val ok = phase.ops.filter(_.ok)
    val prof = ok.map(o => o -> tracer.profile(o, byWindow = true))
    val common = Layers.spark(prof.map(_._2), cores) ++ Layers.queries(prof.map(_._2)) ++
      Layers.residue(phase.ops.map(o => residue.getOrElse(o.id, (0, 0))))
    val perQuery = queries.flatMap { q =>
      val ps = prof.filter(_._1.name == q).map(_._2)
      val med = (f: OpProfile => Double) => Trace.median(ps.map(f))
      Seq("jobs" -> med(_.jobs.toDouble), "driver_gap_s" -> med(_.driverGapS),
        "executor_cpu_s" -> med(_.cpuS), "scan_s" -> med(_.scanS),
        "exchange_s" -> med(_.exchangeS), "cache_write_s" -> med(_.cacheWriteS),
        "shuffle_bytes" -> med(_.shuffleBytes), "spill_bytes" -> med(_.spillBytes),
        "leaked_blocks" -> phase.ops.filter(_.name == q)
          .map(o => residue.getOrElse(o.id, (0, 0))._1.toDouble).sum)
        .map { case (k, v) => s"$q.$k" -> v }
    }
    val modules = prof.flatMap(_._2.moduleJobS).filter(_._1.startsWith("ops."))
      .groupBy(_._1).map { case (m, xs) =>
        s"ops.${m.stripPrefix("ops.")}_job_s" -> xs.map(_._2).sum / phase.passes }
    common ++ perQuery ++ modules ++ kernels
  }

  def record: Map[String, Any] = Map(
    "queries" -> queries,
    "dumps" -> dumps.toSeq,
    "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q)
      .map(q -> graft.queries.Fixtures.render(_, data))).toMap)
}

object QueryWorkload {
  /** Three of the six curation headliners (`q_minhash_lsh_pairs`,
    * `q_setsim_join`, `q_ngram_scrub`, `q_dedup_funnel`,
    * `q_curation_pipeline`, `q_pq_full_stack`) that together reach every
    * curation module (Dedup's exact set-sim and MinHash-LSH paths,
    * TextAnalysis, Sampling, Similarity's PQ stack) and all three measured
    * kernels.
    */
  val Curation: Seq[String] = Seq("q_setsim_join", "q_curation_pipeline", "q_pq_full_stack")

  /** Order-sensitive digest of a collected result, used to tell whether
    * two calls of one query returned the same rows.
    */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.foreach { r =>
      md.update(r.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** Kernel-only throughput of three SQL-registered functions: each is
  * projected over a cached, replicated input into a `noop` sink, so the
  * time is the expression's, not the scan's.
  */
object Kernels {
  private val Copies = 20

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet").select("text")
      .crossJoin(spark.range(Copies).toDF("copy")).cache()
    val emb = spark.read.parquet(s"$data/embeddings.parquet").select("embedding")
    val probes = emb.limit(Copies).withColumnRenamed("embedding", "probe")
    val pairs = emb.crossJoin(org.apache.spark.sql.functions.broadcast(probes)).cache()
    try {
      def rate(df: org.apache.spark.sql.DataFrame, expr: String): Double = {
        val rows = df.count().toDouble
        Trace.median((1 to 3).map { _ =>
          val t0 = Clock.now()
          df.selectExpr(expr).write.format("noop").mode("overwrite").save()
          rows / Clock.seconds(t0, Clock.now())
        })
      }
      Map(
        "functions.minhash_signature_rows_per_s" -> rate(docs, "minhash_signature(text, 3, 6)"),
        "functions.shingle_array_rows_per_s" -> rate(docs, "shingle_array(text, 3)"),
        "functions.cosine_sim_rows_per_s" -> rate(pairs, "cosine_sim(embedding, probe)"))
    } finally { docs.unpersist(true); pairs.unpersist(true) }
  }
}
