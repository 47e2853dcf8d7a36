package perfbench

import java.io.File
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import graft.jobs.{MainDag, Pipeline}

/** The reference's month: the cron run of `MainDag` (all jobs, in order,
  * fixed clock) over the seeded warehouse, then the analyst's requests
  * against the HTTP service on the refreshed warehouse: a fixed batch of
  * sign-off establish chains from one closed-loop client, while two
  * open-loop pollers hit the task endpoints.
  *
  * Each process is a fresh JVM, as the cron's is, so the first cycle is
  * measured cold. The seed picks one of [[Warehouse.variants]] warehouses,
  * and the first cycle's staging/app tables must match that variant's
  * committed digest. The traced run re-runs the DAG over the warehouse the
  * warm-up cycle left, and every staging/app table must come out the
  * same: the jobs are delete-then-append, so a re-run that adds or drops
  * rows is a failure. */
final class DagWorkload(ctx: Ctx) extends Workload {
  import ctx._

  private val variant = Warehouse.variant(seed)
  private val base = s"$outDir/warehouse-dag"
  private val chainsPerCycle = 2
  private var built: Warehouse.Built = _
  private var service: Service = _
  private var firstPrints: Map[String, String] = _
  private val errors = mutable.ArrayBuffer.empty[String]
  private val expectedPath = s"$benchDir/expected/dag_monthly.json"

  /** Every staging/app table the DAG writes. */
  val outputs: Seq[String] = Seq("staging/electricity_decarb",
    "staging/renewable_energy_decarb", "staging/solar", "staging/solar_remain",
    "staging/solar_other", "staging/solar_info", "staging/green_elect_price",
    "staging/green_elect_vol", "staging/green_elect_contract", "staging/grey_elect",
    "staging/elect_total", "staging/provider_plant_list",
    "app/green_elec_transfer_account", "app/solar_energy_overview",
    "app/green_elect_overview", "app/green_elec_pre_contracts",
    "app/decarb_elec_overview", "app/decarb_renew_setting", "app/decarb_path",
    "app/green_energy_overview", "app/source_decarb_confirm", "app/transfer_suggest",
    "app/macc_summary")

  /** The medallion layer a DAG job belongs to, from its name prefix. */
  private def layerOf(job: String): String = job.takeWhile(_ != ':') match {
    case l @ ("source_to_raw" | "fix_data" | "raw_to_staging" | "staging_to_app") => l
    case "staging_cal" | "elect_target_etl" | "decarb_path_etl" => "scope"
    case _ => "tail"
  }

  override def prepare(): Unit = {
    built = Warehouse.build(spark, dataDir, base, variant)
    service = new Service(spark, base, variant, tracer)
  }

  override def iterate(i: Int): Iter = {
    val before = if (tracer.enabled) tracer.cost(Files.list(base)) else Map.empty[String, (Long, Long)]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val times = mutable.LinkedHashMap.empty[String, Double]
    val jobs = MainDag.jobs(base, Warehouse.clock).map { j =>
      Pipeline.Job(j.name, { s =>
        s.sparkContext.setJobGroup(j.name, j.name)
        val t0 = System.nanoTime()
        try tracer.span(s"jobs.${j.name}", j.name)(_ => j.run(s))
        finally {
          val ms = (System.nanoTime() - t0) / 1e6
          times(j.name) = ms
          layer(s"jobs.${layerOf(j.name)}_s") += ms / 1e3
        }
      })
    }
    val notifier = new Pipeline.CollectingNotifier
    val cpu0 = Jvm.cpuSeconds
    val t0 = System.nanoTime()
    val failed = Pipeline.run(spark, jobs, notifier).toSet
    spark.sparkContext.clearJobGroup()
    val requests = service.phase(chainsPerCycle)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.cpuSeconds - cpu0
    val errors = notifier.events.collect { case ("failure", m) => m }
    val ops = times.toSeq.map { case (n, ms) =>
      Op(n, ms, !failed.contains(n),
        errors.find(_.startsWith(n + ": ")).map(_.drop(n.length + 2).take(300)).getOrElse("")) } ++
      requests

    val prints = outputs.par.map(t => t -> print(s"$base/$t")).seq.toMap
    if (firstPrints == null) {
      firstPrints = prints
      Expected.read(expectedPath).get(s"seed$variant") match {
        case Some(digest) if digest != Fingerprint.digest(prints) =>
          errors += s"seed $seed (variant $variant): DAG outputs differ from the committed digest"
        case None => errors += s"variant $variant: no committed digest in $expectedPath"
        case _ => ()
      }
    } else outputs.filter(t => prints(t) != firstPrints(t)).foreach { t =>
      errors += s"$t changed on re-run $i: ${firstPrints(t)} then ${prints(t)}"
    }
    if (tracer.enabled) {
      val after = tracer.cost(Files.list(base))
      val written = after.filter { case (p, v) => !before.get(p).contains(v) }
      val liveBytes = after.values.map(_._1).sum
      layer("sink.files_written") = written.size
      layer("sink.live_files") = after.size
      layer("sink.write_amp") = written.values.map(_._1).sum.toDouble / liveBytes.max(1L)
    }
    val (serviceLayers, reqMs) = service.drainLayers()
    Iter(wall, cpu, ops, layer.toMap ++ serviceLayers, reqMs)
  }

  private def print(path: String): String =
    if (!new File(path).exists()) "absent"
    else if (Files.list(path).isEmpty) "empty"
    else Fingerprint.of(spark.read.parquet(path)).toString

  override def problems: Seq[String] =
    (errors.toSeq ++ Option(service).toSeq.flatMap(_.problems)).distinct

  override def close(): Unit = if (service != null) { service.stop(); service = null }

  override def describe: Seq[(String, Any)] = Option(service).toSeq.flatMap(_.describe) ++ Seq(
    "variant" -> variant, "chains_per_cycle" -> chainsPerCycle, "clock" -> Warehouse.clock.today.toString, "jobs" -> MainDag.jobs(base, Warehouse.clock).size,
    "input_rows" -> Json.obj(built.rows: _*),
    "output_fingerprints" -> Json.obj(Option(firstPrints).getOrElse(Map.empty).toSeq.sortBy(_._1): _*),
    "output_digest" -> Option(firstPrints).map(Fingerprint.digest))
}

/** Data files under a warehouse directory: path → (bytes, mtime). */
object Files {
  def list(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root)).filter(f => f.getName.startsWith("part-"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }
}
