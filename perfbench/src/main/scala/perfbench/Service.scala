package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sink
import graft.jobs.{Mail, Pipeline}
import graft.model.{FactoryElectSimulator, SignOff}
import graft.service.{Api, TaskRunner}

/** The HTTP service (`Api` + `TaskRunner`) over a warehouse, on an
  * ephemeral local port, and the clients that drive it:
  *
  *  - an establish client: `POST /sign_off/establish` chains back to back,
  *    each polled to its terminal state. The chain runs on the engine's
  *    seams: the factory simulator with a deterministic in-process scorer
  *    → a versioned append to `app.decarb_elect_simulate` →
  *    `SignOff.create` → a notify mail on a collecting transport, single-
  *    flight as the reference's one-slot model queue is;
  *  - while the chains run, two open-loop pollers on `GET /tasks/{id}` and
  *    `GET /tasks/ids?route_name=`, each poll timed from when it was due.
  *    The reference's client, which would set their rate, is not among the
  *    sources; [[pollPeriodMs]] is a chosen background load.
  *
  * Checks: every chain succeeds, versions rise by exactly one
  * per chain, and each chain leaves exactly one sign-off record. */
final class Service(spark: SparkSession, base: String, seed: Long, tracer: Tracer) {
  import Service._

  private val simPath = s"$base/app/decarb_elect_simulate"
  private val establishRoute = "/sign_off/establish"
  val pollPeriodMs = 50L

  private val errors = new ConcurrentLinkedQueue[String]()
  private val box = new Mail.CollectingTransport
  private val router = Mail.Router("bench", Seq("ops@example.com"), Seq("dev@example.com"), box)
  private val signOffs = new ConcurrentLinkedQueue[SignOff.Record]()
  private val flight = new Pipeline.SingleFlight("sign-off establish")
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val idGen = new SignOff.IdGen { def next(): String = s"so-$seed-${ids.incrementAndGet()}" }

  private val simulateMs = new ConcurrentLinkedQueue[Double]()
  private val signoffMs = new ConcurrentLinkedQueue[Double]()
  private val reqMs = new ConcurrentLinkedQueue[Double]()
  private val pollMs = new ConcurrentLinkedQueue[Double]()
  private val lateMs = new ConcurrentLinkedQueue[Double]()
  private val queueWaitMs = new ConcurrentLinkedQueue[Double]()
  private val taskRunMs = new ConcurrentLinkedQueue[Double]()

  private val runner = new TaskRunner()
  private val api = new Api(runner, Api.Hooks(
    establish = (pic, reviewer) => flight.submit(establish(pic, reviewer))
      .fold(busy => throw new IllegalStateException(busy), identity),
    notifyReviewer = (signId, topic, content, to) => {
      router.notify(topic, content, Some(to)); s"notified $signId" },
    // the solar mini-DAG repeats jobs the cron runs; no client drives it
    solarRefresh = () => "not measured"))
  private val port = api.start()
  private var lastVersion = SignOff.nextVersion(spark.read.parquet(simPath)) - 1
  private var chains = 0
  @volatile private var latestTask = "none"
  @volatile private var polling = false
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** The §3.2 worker chain: simulate, append the new version, sign off, mail. */
  private def establish(pic: String, reviewer: String): String = {
    val t0 = System.nanoTime()
    val v = SignOff.nextVersion(spark.read.parquet(simPath))
    Sink.append(SignOff.stage(simulation(spark, base, seed), v, Warehouse.reportYear), simPath)
    val t1 = System.nanoTime()
    val rec = SignOff.create(v, Warehouse.reportYear, pic, reviewer, idGen)
    signOffs.add(rec)
    router.notify("sign-off ready", s"<p>version $v sign-off ${rec.signOffId}</p>")
    simulateMs.add((t1 - t0) / 1e6)
    signoffMs.add((System.nanoTime() - t1) / 1e6)
    s"""{"version":$v,"sign_off_id":"${rec.signOffId}"}"""
  }

  private def send(method: String, path: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = if (method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(
      """{"pic": "pic@example.com", "reviewer": "reviewer@example.com"}""")) else b.GET()
    val t0 = System.nanoTime()
    val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
    reqMs.add((System.nanoTime() - t0) / 1e6)
    (r.statusCode(), r.body())
  }

  /** The establish client's batch: `n` chains back to back, with the two
    * open-loop pollers running alongside. */
  def phase(n: Int): Seq[Op] = {
    polling = true
    val pollers = Seq(
      poller("poll-task", () => s"/tasks/$latestTask"),
      poller("poll-ids", () =>
        s"/tasks/ids?route_name=${java.net.URLEncoder.encode(establishRoute, "UTF-8")}"))
    try (1 to n).map(_ => chain())
    finally { polling = false; pollers.foreach(_.join()) }
  }

  private def poller(name: String, path: () => String): Thread = {
    val t = new Thread(() => {
      val start = System.nanoTime()
      var k = 0L
      while (polling) {
        val due = start + k * pollPeriodMs * 1000000L
        k += 1
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs.add(((System.nanoTime() - due) / 1e6).max(0.0))
        try {
          val (code, _) = send("GET", path())
          if (code != 200) errors.add(s"$name: HTTP $code")
        } catch { case e: Exception => if (polling) errors.add(s"$name: $e") }
        pollMs.add((System.nanoTime() - due) / 1e6)
      }
    }, s"bench-$name")
    t.setDaemon(true); t.start(); t
  }

  private def chain(): Op = tracer.span("service.establish", s"chain-${chains + 1}") { _ =>
    val s0 = System.nanoTime()
    val (code, body) = send("POST", establishRoute)
    val id = jsonField(body, "id").getOrElse("")
    latestTask = id
    var started = Option.empty[Long]
    var state = ""
    val deadline = s0 + 60L * 1000000000L
    while (state != "SUCCESS" && state != "FAILURE" && System.nanoTime() < deadline) {
      state = jsonField(send("GET", s"/tasks/$id")._2, "state").getOrElse("")
      if (started.isEmpty && state != "PENDING") started = Some(System.nanoTime())
      if (state != "SUCCESS" && state != "FAILURE") Thread.sleep(2)
    }
    val end = System.nanoTime()
    started.foreach { s => queueWaitMs.add((s - s0) / 1e6); taskRunMs.add((end - s) / 1e6) }
    chains += 1
    val ok = code == 200 && state == "SUCCESS"
    val error = if (ok) "" else s"$code $state ${runner.meta(id).flatMap(_.error).getOrElse("")}".take(300)
    if (ok) checkVersion(runner.meta(id).flatMap(_.result).getOrElse(""))
    else errors.add(s"chain $chains failed: $error")
    Op("establish", (end - s0) / 1e6, ok, error)
  }

  /** Versions rise by exactly one per chain, with one sign-off record each. */
  private def checkVersion(result: String): Unit = {
    val v = "\"version\":(\\d+)".r.findFirstMatchIn(result).map(_.group(1).toInt).getOrElse(-1)
    if (v != lastVersion + 1) errors.add(s"chain $chains: version $v after $lastVersion")
    val recs = signOffs.asScala.count(_.version == v)
    if (recs != 1) errors.add(s"version $v has $recs sign-off records")
    lastVersion = v
  }

  /** Per-layer medians and request samples gathered since the last call. */
  def drainLayers(): (Map[String, Double], Seq[Double]) = {
    val layer = mutable.Map.empty[String, Double]
    def med(name: String, q: ConcurrentLinkedQueue[Double]): Unit = {
      val xs = drain(q)
      if (xs.nonEmpty) layer(name) = Stats.median(xs)
    }
    med("model.simulate_ms", simulateMs)
    med("model.signoff_ms", signoffMs)
    med("service.queue_wait_ms", queueWaitMs)
    med("service.task_run_ms", taskRunMs)
    med("service.poll_late_ms", lateMs)
    med("service.poll_ms", pollMs)
    (layer.toMap, drain(reqMs))
  }

  def problems: Seq[String] = errors.asScala.toSeq.distinct

  /** The version table must hold versions 1..last, each exactly once per chain. */
  def describe: Seq[(String, Any)] = {
    val versions = spark.read.parquet(simPath).groupBy(col("version")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    if (versions.map(_._1) != (1 to lastVersion))
      errors.add(s"version table holds ${versions.map(_._1).mkString(",")}, expected 1..$lastVersion")
    if (versions.map(_._2).distinct.size > 1)
      errors.add(s"versions hold different row counts: ${versions.mkString(",")}")
    Seq("chains" -> chains, "poll_period_ms" -> pollPeriodMs, "final_version" -> lastVersion,
      "sign_off_records" -> signOffs.size, "mails" -> box.sent.size,
      "rows_per_version" -> Json.obj(versions.map { case (v, n) => v.toString -> n }: _*))
  }

  def stop(): Unit = {
    api.stop()
    runner.shutdown()
  }
}

object Service {

  /** A top-level string field of a flat JSON response. */
  def jsonField(body: String, name: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(name) + "\"\\s*:\\s*\"([^\"]*)\"").r
      .findFirstMatchIn(body).map(_.group(1))

  private def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
    val b = mutable.ArrayBuffer.empty[A]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }

  /** Deterministic stand-in for the reference's per-plant model endpoint. */
  final class Scorer(seed: Long) extends FactoryElectSimulator.Scorer {
    private val k = 1.0 + (seed % 7) / 100.0
    def scorePlant(plant: String, rs: Seq[FactoryElectSimulator.FeatureRow]) =
      rs.map(r => FactoryElectSimulator.ScoredRow(plant, r.year,
        math.round(r.features("amount") * k * 100) / 100.0))
  }

  /** The factory simulator's run as the sign-off chain makes it: per-site
    * yearly actuals → trend rates → forward simulation to the target years
    * → batch scoring, as (site, year, amount). The warehouse seeds version 1
    * of the version table with this same result. */
  def simulation(spark: SparkSession, base: String, seed: Long): DataFrame = {
    import spark.implicits._
    val history = spark.read.parquet(s"$base/app/elect_target_month")
      .filter(col("category") === "actual" && col("version") === 1)
      .groupBy(col("site").as("plant"), col("year")).agg(sum(col("amount")).as("amount"))
    val sim = FactoryElectSimulator.simulate(history,
      FactoryElectSimulator.trendRates(history), Warehouse.reportYear + 7)
    val features = sim.as[(String, Int, Double)].map { case (p, y, a) =>
      FactoryElectSimulator.FeatureRow(p, y, Map("amount" -> a)) }
    FactoryElectSimulator.scoreBatches(features, new Scorer(seed)).toDF()
      .select(col("plant").as("site"), col("year"), col("prediction").as("amount"))
  }
}
