package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.catalog.{FileStatus, HyperFileMeta, MetaKeys, MetaStore}
import graft.serve.Serve

/** The engine's HTTP product shell over its own catalog: a `MetaStore`
  * under the run's work directory, served by `graft.serve.Serve` on an
  * ephemeral localhost port.
  */
class Api(spark: SparkSession, root: String, sync: Long => Unit) {
  val token = "perfbench"
  val store = new MetaStore(spark, s"$root/catalog")
  private val server = new Serve(spark, store, token, sync,
    downloadPath = f => s"$root/extracts/${f.filename}")
  private var port = -1

  def init(files: Seq[HyperFileMeta]): Unit = store.initHyperFiles(files)
  def start(): Unit = port = server.start()
  def stop(): Unit = server.stop()
  def url(path: String): String = s"http://127.0.0.1:$port$path"
}

object Api {
  private val mapper = new ObjectMapper()

  def fileRow(id: Long, at: java.sql.Timestamp): HyperFileMeta =
    HyperFileMeta(id, userId = 1L, formId = 1000L + id, filename = s"form_$id",
      fileStatus = FileStatus.FileAvailable, isActive = true,
      metaData = Map(MetaKeys.SyncFailures -> "0"), lastUpdated = at)

  def client(threads: Int): HttpClient =
    HttpClient.newBuilder()
      .executor(Executors.newFixedThreadPool(threads, (r: Runnable) => {
        val t = new Thread(r, "perfbench-http"); t.setDaemon(true); t
      }))
      .version(HttpClient.Version.HTTP_1_1).build()

  def send(c: HttpClient, api: Api, method: String, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(api.url(path)))
      .header("Authorization", s"Bearer ${api.token}")
      .method(method, HttpRequest.BodyPublishers.noBody())
      .timeout(java.time.Duration.ofSeconds(60)).build()
    val r = c.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  /** A GET answer is correct when it is a 200 carrying well-formed JSON:
    * a list of file objects, or the one file asked for.
    */
  def checkGet(status: Int, body: String, wantId: Option[Long]): Option[String] =
    if (status != 200) Some(s"status $status")
    else try {
      val node: JsonNode = mapper.readTree(body)
      def fileOk(n: JsonNode) = n.isObject && n.has("id") && n.has("file_status")
      wantId match {
        case None if node.isArray && node.elements.asScala.forall(fileOk) => None
        case Some(id) if fileOk(node) && node.get("id").asLong == id => None
        case _ => Some(s"unexpected body ${body.take(80)}")
      }
    } catch { case e: Exception => Some(s"malformed JSON: ${e.getMessage}") }
}

/** Open-loop API reader: request i is due at `start + i / rate`, whatever
  * happened to earlier requests. The senders take the next due request in
  * turn; each is timed from when it was due, so a stall that delays later
  * requests counts against them, and how late each request actually went
  * out is kept beside its latency. Half the requests list the files
  * (`skip` in [0, nFiles), `limit` 1 to 20), half ask for one of them.
  */
class OpenLoopReader(api: Api, cores: Int, seed: Long, nFiles: Int) {
  import OpenLoopReader._
  private val threads = senders(cores)
  private val client = Api.client(threads)
  private val next = new AtomicLong(0)
  private val stopping = new AtomicBoolean(false)
  private val done = new ConcurrentLinkedQueue[Op]()
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-reader"); t.setDaemon(true); t
  })
  @volatile private var startNs = 0L

  private def request(i: Long): (String, Option[Long]) = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    if (r.nextBoolean()) {
      val skip = r.nextInt(nFiles)
      (s"/api/v1/files?skip=$skip&limit=${1 + r.nextInt(20)}", None)
    } else {
      val id = 1L + r.nextInt(nFiles)
      (s"/api/v1/files/$id", Some(id))
    }
  }

  def start(): Unit = {
    startNs = Clock.now()
    (1 to threads).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = while (!stopping.get) {
          val i = next.getAndIncrement()
          val due = startNs + (i * 1e9 / RatePerS).toLong
          while (Clock.now() < due && !stopping.get)
            Thread.sleep(math.max(0L, (due - Clock.now()) / 1000000L), 0)
          if (!stopping.get) {
            val (path, want) = request(i)
            val t0 = Clock.now()
            val verdict =
              try {
                val (st, body) = Api.send(client, api, "GET", path)
                Api.checkGet(st, body, want)
              } catch { case e: Exception => Some(e.toString) }
            done.add(Op(i, "get", path.takeWhile(_ != '?'), 0, due, t0, Clock.now(),
              t0, ok = verdict.isEmpty, error = verdict.getOrElse("")))
          }
        }
      })
    }
  }

  /** Stop sending; requests already sent are awaited and kept. */
  def stop(): Seq[Op] = {
    stopping.set(true)
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    client.executor().ifPresent {
      case e: java.util.concurrent.ExecutorService => e.shutdown()
      case _ => ()
    }
    done.asScala.toSeq.sortBy(_.id)
  }
}

/** The read load is an assumption, not a measurement of duva's users:
  * the reference publishes no request rates. 20 GETs a second give a
  * 10-second phase about 200 GETs, enough for a steady median and for a
  * p95 tail with ten samples beyond it. Two senders keep a GET that takes
  * longer than the 50 ms between due times from delaying the next one,
  * and leave the other cores to Spark.
  */
object OpenLoopReader {
  val RatePerS = 20.0
  def senders(cores: Int): Int = math.max(1, math.min(2, cores - 1))
}
