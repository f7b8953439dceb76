package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

import graft.catalog.{FileStatus, MetaKeys}
import graft.etl.AsyncExport

/** A survey form's CSV export as the generator knows it: OnaData-style
  * headers (`_id`, `_uuid`, `_submission_time`, `group/question`,
  * select-multiple label and 0/1 option columns), `n/a` and empty cells,
  * and the rows submitted so far. Each round appends submissions and
  * edits some earlier ones.
  */
final class Form(val id: Long, rows0: Int, width: Int, seed: Long, dir: Path) {
  private val rng = new java.util.SplittableRandom(seed * 31L + id)
  private val words = Array("river", "clinic", "market", "school", "well",
    "road", "farm", "water", "health", "village", "north", "south")
  private val options = Array("apple", "banana", "cherry")

  // (header, kind); kinds: int, dec, text, multi (labels), opt (0/1)
  val columns: Seq[(String, String)] =
    Seq("_id" -> "id", "_uuid" -> "uuid", "_submission_time" -> "time") ++
      (0 until width - 3).map { j =>
        val g = s"group_${('a' + (j / 12) % 26).toChar}"
        j % 6 match {
          case 0 => s"$g/age_$j" -> "int"
          case 1 => s"$g/weight_$j" -> "dec"
          case 2 => s"$g/note_$j" -> "text"
          case 3 => s"$g/fruits_$j" -> "multi"
          case 4 => s"$g/fruits_${j - 1}/apple" -> "opt"
          case _ => s"$g/fruits_${j - 2}/banana" -> "opt"
        }
      }

  /** The extract schema the collapse policy must produce. */
  val schema: Seq[(String, DataType)] = columns.map { case (h, k) =>
    h -> (k match {
      case "id" | "int" | "opt" => LongType
      case "dec" => DoubleType
      case _ => StringType
    })
  }

  private val rows = collection.mutable.ArrayBuffer[Array[String]]()
  private var nextId = 0L
  private var round = 0
  private var current: Option[Path] = None

  private def sentinel(): String = if (rng.nextBoolean()) "n/a" else ""

  private def answers(nulls: Boolean): Seq[String] =
    columns.drop(3).map { case (_, kind) =>
      if (nulls && rng.nextInt(20) == 0) sentinel()
      else kind match {
        case "int" => rng.nextInt(100).toString
        case "dec" => f"${rng.nextDouble() * 100}%.2f"
        case "text" =>
          val w = (1 to 1 + rng.nextInt(4)).map(_ => words(rng.nextInt(words.length)))
          if (rng.nextInt(10) == 0) "\"" + w.mkString(", ") + "\"" else w.mkString(" ")
        case "multi" => options.filter(_ => rng.nextBoolean()).mkString(" ")
        case _ => rng.nextInt(2).toString
      }
    }

  private def submit(): Unit = {
    val uuid = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString
    val t = java.time.Instant.ofEpochSecond(1704067200L + nextId * 37L)
      .toString.stripSuffix("Z")
    rows += (Seq(nextId.toString, uuid, t) ++ answers(nulls = rows.nonEmpty)).toArray
    nextId += 1
  }

  /** Land the next export: append submissions, edit some earlier ones
    * (the first row keeps every cell filled, so each column's type is
    * decided by the generator), write it, and return its path.
    *
    * The churn per round, 2% new rows and 1% edited ones, is an
    * assumption: the reference publishes no submission rates. It keeps
    * each export different from the last, while a run's few rounds grow
    * a form by only a few percent, so its syncs do nearly equal work.
    */
  def land(): Path = {
    if (rows.isEmpty) (1 to rows0).foreach(_ => submit())
    else {
      (1 to math.max(1, rows0 / 50)).foreach(_ => submit())
      (1 to math.max(1, rows.size / 100)).foreach { _ =>
        val i = 1 + rng.nextInt(rows.size - 1 max 1)
        if (i < rows.size) rows(i) = (rows(i).take(3) ++ answers(nulls = true)).toArray
      }
    }
    round += 1
    val p = dir.resolve(s"form_${id}_export_$round.csv")
    val body = new StringBuilder(columns.map(_._1).mkString(",")).append('\n')
    rows.foreach(r => body.append(r.mkString(",")).append('\n'))
    Files.write(p, body.toString.getBytes(StandardCharsets.UTF_8))
    current.foreach(Files.deleteIfExists)
    current = Some(p)
    p
  }

  def rowCount: Long = rows.size.toLong
  def csv: Path = current.get
}

/** The product loop through `serve`: a closed-loop client POSTs
  * `/api/v1/files/{id}/sync` round-robin over the catalog's forms, after
  * landing a fresh export for that form (untimed); open-loop readers GET
  * the file list and file details meanwhile.
  */
class SyncWorkload(work: String, seed: Long, cores: Int) extends Workload {
  val name = "sync"
  private var spark: SparkSession = _
  private var api: Api = _
  // (rows, columns): rows span two orders of magnitude, widths tens to hundreds
  private val sizes = Seq((40, 300), (300, 120), (1500, 48), (6000, 16))
  // warm-up form: the widest column set, ten rows
  private val warmSizes = Seq((10, 300))
  private var forms: Seq[Form] = Nil
  private var warmForms: Seq[Form] = Nil
  private val currentTag = new ConcurrentHashMap[Long, String]()
  private val errors = new ConcurrentHashMap[Long, String]()
  private val recordSpans = new ConcurrentHashMap[String, (Long, Long)]()
  private val stamps = new ConcurrentHashMap[Long, java.sql.Timestamp]()
  private val checks = collection.mutable.Map[Long, Map[String, Double]]()
  private var stampSeq = 0L

  private def extractPath(id: Long) = s"$work/sync/extracts/form_$id"

  def prepare(s: SparkSession): Unit = {
    spark = s
    val root = Paths.get(work, "sync")
    if (Files.exists(root)) org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    val exports = Files.createDirectories(root.resolve("exports"))
    Files.createDirectories(root.resolve("extracts"))
    forms = sizes.zipWithIndex.map { case ((r, w), i) => new Form(i + 1L, r, w, seed, exports) }
    warmForms = warmSizes.zipWithIndex.map { case ((r, w), i) =>
      new Form(forms.size + i + 1L, r, w, seed, exports) }
    api = new Api(s, root.toString, syncBody)
    val at = new java.sql.Timestamp(0L)
    api.init((forms ++ warmForms).map(f => Api.fileRow(f.id, at)))
    api.start()
  }

  def close(): Unit = if (api != null) { api.stop(); api = null }

  /** The injected sync body: the engine's export → ingest → staged
    * refresh path over a transport that answers at once, then the
    * catalog's outcome record.
    */
  private def syncBody(id: Long): Unit = {
    val f = (forms ++ warmForms).find(_.id == id).get
    val tag = Option(currentTag.get(id)).getOrElse(s"${Trace.TagPrefix}aux")
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val at = stamps.get(id)
    try {
      val ready = f.csv.toString
      AsyncExport.syncExport(spark, s"local://forms/${f.id}/export_async.json?format=csv",
        poll = _ => AsyncExport.PollResult.Accepted("SUCCESS", None, Some(ready)),
        fetch = p => Some(p), sleeper = _ => (), extractPath = extractPath(id))
      val r0 = Clock.now()
      api.store.recordSyncResult(id, success = true, at)
      recordSpans.put(tag, (r0, Clock.now()))
    } catch {
      case e: Exception =>
        errors.put(id, e.toString)
        api.store.recordSyncResult(id, success = false, at, String.valueOf(e.getMessage))
    } finally sc.removeJobTag(tag)
  }

  private lazy val client = Api.client(1)

  /** Land an export for `f` and POST its sync; returns the timed op. */
  private def syncOnce(f: Form, opId: Long, pass: Int): Op = {
    f.land()
    val tag = s"${Trace.TagPrefix}op-$opId"
    currentTag.put(f.id, tag)
    stampSeq += 1
    stamps.put(f.id, new java.sql.Timestamp(1704067200000L + stampSeq * 1000L))
    errors.remove(f.id)
    val t0 = Clock.now()
    val verdict =
      try {
        val (st, body) = Api.send(client, api, "POST", s"/api/v1/files/${f.id}/sync")
        if (st != 200) Some(s"status $st: ${body.take(80)}")
        else Option(errors.get(f.id))
      } catch { case e: Exception => Some(e.toString) }
    val t1 = Clock.now()
    Op(opId, "sync", s"form_${f.id}", pass, t0, t0, t1, t0,
      ok = verdict.isEmpty, error = verdict.getOrElse(""), tag = tag)
  }

  /** Check the last sync of `f` against what the generator knows: the
    * extract's rows and collapsed schema, the catalog row, and no
    * leftover staging directories.
    */
  private def verify(f: Form, op: Op): Op = {
    val sc = spark.sparkContext
    val aux = s"${Trace.TagPrefix}aux"
    sc.addJobTag(aux)
    try {
      val dir = Paths.get(extractPath(f.id))
      val parent = dir.getParent
      val leftovers = Seq("__staging", "__old").map(s => parent.resolve(s"form_${f.id}$s"))
        .filter(Files.exists(_))
      leftovers.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
      val extractBytes = org.apache.commons.io.FileUtils.sizeOfDirectory(dir.toFile)
      checks(op.id) = Map("leftover_dirs" -> leftovers.length.toDouble,
        "bytes_ratio" -> extractBytes.toDouble / Files.size(f.csv))
      val gotSchema = spark.read.parquet(dir.toString).schema.fields
        .map(x => x.name -> x.dataType).toSeq
      val rows = dir.toFile.list().filter(_.endsWith(".parquet")).map(n => dir.resolve(n).toString)
        .map { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p), sc.hadoopConfiguration)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
      val row = api.store.readHyperFiles().collect().find(_.id == f.id)
      val problems = Seq(
        Option.when(gotSchema != f.schema)(s"schema differs: ${gotSchema.take(4)}"),
        Option.when(rows != f.rowCount)(s"rows $rows, expected ${f.rowCount}"),
        Option.when(!row.exists(_.fileStatus == FileStatus.FileAvailable))(
          s"catalog status ${row.map(_.fileStatus)}"),
        Option.when(!row.exists(_.metaData.get(MetaKeys.SyncFailures).contains("0")))(
          s"sync-failures ${row.map(_.metaData)}"),
        Option.when(!row.exists(_.lastUpdated == stamps.get(f.id)))("catalog row not updated"),
        Option.when(leftovers.nonEmpty)(s"${leftovers.length} leftover directories"))
        .flatten
      if (problems.isEmpty || !op.ok) op
      else op.copy(ok = false, error = problems.mkString("; "))
    } catch {
      case e: Exception => op.copy(ok = false, error = s"check failed: $e")
    } finally sc.removeJobTag(aux)
  }

  def warmUp(): Seq[String] = {
    val errs = warmForms.map { f =>
      val op = verify(f, syncOnce(f, -1L, -1))
      Option.when(!op.ok)(s"${op.name}: ${op.error}")
    }
    errs.flatten
  }

  def measure(seconds: Double, tracer: Option[Tracer], firstId: Long): Phase = {
    val reader = new OpenLoopReader(api, cores, seed, forms.size + warmForms.size)
    val ops = collection.mutable.ArrayBuffer[Op]()
    val pending = collection.mutable.Map[Long, Int]()
    val start = Clock.now()
    val deadline = start + (seconds * 1e9).toLong
    reader.start()
    var pass = 0
    do {
      forms.foreach { f =>
        pending.remove(f.id).foreach(i => ops(i) = verify(f, ops(i)))
        ops += syncOnce(f, firstId + ops.size, pass)
        pending(f.id) = ops.size - 1
      }
      pass += 1
      // at least two rounds: one round is about as long as a short run,
      // and a run must not hold one round or two depending on its speed
    } while (Clock.now() < deadline || pass < 2)
    val gets = reader.stop()
    forms.foreach(f => pending.remove(f.id).foreach(i => ops(i) = verify(f, ops(i))))
    Phase(ops.toSeq, gets, pass, Clock.seconds(start, Clock.now()))
  }

  def layers(phase: Phase, tracer: Tracer, cores: Int): Map[String, Double] = {
    val syncs = phase.ops.filter(_.ok)
    val prof = syncs.map(o => o -> tracer.profile(o, byWindow = false))
    val jobs = tracer.jobRecords
    val serveJobs = jobs.filter(j => !j.tags.exists(_.startsWith(Trace.TagPrefix)) &&
      Trace.isGetReload(j.callSite))
    val getMissed = phase.gets.count { g =>
      val (lo, hi) = (Clock.epochMs(g.startNs), Clock.epochMs(g.endNs))
      serveJobs.exists(j => j.startMs >= lo - 1 && j.startMs <= hi + 1)
    }
    val records = syncs.flatMap(o => Option(recordSpans.get(o.tag)).map(o -> _))
    records.foreach { case (o, (a, b)) => tracer.span("catalog.recordSyncResult", o.id, a, b) }
    val recordJobs = records.map { case (o, (a, b)) =>
      jobs.count(j => j.tags.contains(o.tag) && j.startMs >= Clock.epochMs(a) - 1 &&
        j.startMs <= Clock.epochMs(b) + 1).toDouble
    }
    def module(p: OpProfile, m: String) = p.moduleJobS.getOrElse(m, 0.0)
    Layers.spark(prof.map(_._2), cores) ++ Map(
      "serve.get_reload_jobs" -> serveJobs.size.toDouble,
      "serve.snapshot_hit_ratio" ->
        (if (phase.gets.isEmpty) 0.0 else 1.0 - getMissed.toDouble / phase.gets.size),
      "catalog.record_s" -> Trace.median(records.map { case (_, (a, b)) => Clock.seconds(a, b) }),
      "catalog.record_jobs" -> Trace.mean(recordJobs),
      "etl.infer_job_s" -> Trace.median(prof.map(p => module(p._2, "etl.Ingest"))),
      "etl.write_job_s" -> Trace.median(prof.map(p => module(p._2, "etl.Refresh"))),
      "etl.sync_driver_gap_s" -> Trace.median(prof.map(_._2.driverGapS)),
      "etl.bytes_per_input_byte" -> Trace.mean(phase.ops.flatMap(o => checks.get(o.id))
        .map(_("bytes_ratio"))),
      "residue.leftover_dirs" -> phase.ops.flatMap(o => checks.get(o.id))
        .map(_("leftover_dirs")).sum)
  }

  def record: Map[String, Any] = Map(
    "forms" -> forms.map(f => Map("id" -> f.id, "rows" -> f.rowCount,
      "columns" -> f.columns.size)))
}
