package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One operation a workload performed: a query, a DAG job or a sign-off
  * chain. */
final case class Op(name: String, ms: Double, ok: Boolean, error: String = "")

/** One measured iteration: its wall and CPU time, the operations it ran and
  * per-layer figures for the traced run. */
final case class Iter(wallS: Double, cpuS: Double, ops: Seq[Op],
                      layers: Map[String, Double] = Map.empty,
                      reqMs: Seq[Double] = Nil)

/** What every workload shares: the session, the seed and the tracer. */
final case class Ctx(spark: SparkSession, seed: Long, dataDir: String,
                     outDir: String, benchDir: String, tracer: Tracer)

trait Workload {
  /** The workload's part of set-up: generate or load the inputs. */
  def prepare(): Unit
  /** One iteration; `i` is 0 for the warm-up. */
  def iterate(i: Int): Iter
  /** Correctness problems seen so far; any one fails the run. */
  def problems: Seq[String]
  /** What the run measured, for the artifact. */
  def describe: Seq[(String, Any)]
  /** Stop whatever the workload started. */
  def close(): Unit = ()
}

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * An untraced run measures exactly one cold iteration, whatever
  * `--seconds` says; a traced run measures warm iterations after an
  * unmeasured warm-up, for as long as `--seconds` lasts. Prints one JSON result line last; writes the full artifact (and with
  * `--trace 1` the spans) under the output directory. Exits non-zero when
  * any output check fails. */
object Main {

  val workloads: Seq[String] = Seq("queries_sf0.01", "dag_monthly")
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s",
    "cpu_s" -> "s", "ops_per_s" -> "1/s", "heap_live_mb" -> "MB")
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_wait_s" -> "s", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
    "queries.build_ms" -> "ms", "queries.exec_ms" -> "ms",
    "queries.relational_s" -> "s", "queries.events_s" -> "s", "queries.text_s" -> "s",
    "queries.vector_s" -> "s", "queries.multimodal_s" -> "s", "queries.jobs_model_s" -> "s",
    "cache.pinned_bytes" -> "bytes",
    "jobs.source_to_raw_s" -> "s", "jobs.fix_data_s" -> "s", "jobs.raw_to_staging_s" -> "s",
    "jobs.staging_to_app_s" -> "s", "jobs.scope_s" -> "s", "jobs.tail_s" -> "s",
    "sink.bytes_written" -> "bytes", "sink.files_written" -> "count",
    "sink.write_amp" -> "ratio", "sink.live_files" -> "count",
    "model.simulate_ms" -> "ms", "model.signoff_ms" -> "ms",
    "service.queue_wait_ms" -> "ms", "service.task_run_ms" -> "ms",
    "service.req_p50_ms" -> "ms", "service.req_tail_ms" -> "ms",
    "service.poll_ms" -> "ms", "service.poll_late_ms" -> "ms",
    "jvm.gc_s" -> "s", "heap.peak_mb" -> "MB", "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        benchDir: String, dataDir: String, outDir: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "bench-dir")
    require(argv.length % 2 == 0 && kv.keySet.subsetOf(known),
      s"usage: --workload <${workloads.mkString("|")}> --seed <n> --seconds <s> --trace <0|1>")
    val w = kv.getOrElse("workload", sys.error("--workload is required"))
    require(workloads.contains(w), s"unknown workload '$w' (one of ${workloads.mkString(", ")})")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got '$trace'")
    val benchDir = new File(kv.getOrElse("bench-dir", "perfbench")).getAbsolutePath
    Args(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      trace == "1", benchDir, s"$benchDir/data/sf0.01", s"$benchDir/out")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(a: Args): Int = {
    val launchS = Jvm.sinceLaunchS
    // the engine bench's host-speed probes, as context; they take seconds,
    // so only the traced run, which already trades time for detail, pays
    def spins() = if (a.trace) Some((graft.HostProbes.spinRegS(), graft.HostProbes.spinMemS())) else None
    val spinStart = spins()
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = time(graft.Bench.buildSession(cpus.toString))
    new File(a.outDir).mkdirs()
    val tracer = new Tracer(a.trace)
    val ctx = Ctx(spark, a.seed, a.dataDir, a.outDir, a.benchDir, tracer)
    val wl: Workload = a.workload match {
      case "queries_sf0.01" => new QueriesWorkload(ctx)
      case "dag_monthly" => new DagWorkload(ctx)
    }
    try {
      val prepS = time(wl.prepare())._2
      log(f"prepared in $prepS%.2f s")
      val setupS = launchS + sessionS + prepS
      val warm = if (a.trace) Some(time(wl.iterate(0))) else None
      warm.foreach { case (w, s) => log(f"warm-up $s%.2f s, ${w.ops.size} ops") }

      val probe = if (a.trace) {
        val p = new SparkProbe(spark.sparkContext, tracer)
        spark.sparkContext.addSparkListener(p)
        Some(p)
      } else None

      val heap = new HeapSampler
      heap.start()
      val iters = mutable.ArrayBuffer.empty[Iter]
      val sparkDeltas = mutable.ArrayBuffer.empty[SparkProbe.Counters]
      val gcDeltas = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 1
      while (iters.isEmpty || (a.trace && elapsed < a.seconds && wl.problems.isEmpty)) {
        val before = probe.map(_.snapshot())
        val gc0 = Jvm.gcSeconds
        iters += tracer.span(s"iteration.$i", s"iter-$i")(_ => wl.iterate(i))
        gcDeltas += Jvm.gcSeconds - gc0
        log(f"iteration $i: ${iters.last.wallS}%.2f s, ${iters.last.ops.size} ops")
        for (p <- probe; b <- before) sparkDeltas += p.snapshot() - b
        i += 1
      }
      val measureS = elapsed
      heap.stop()
      val liveMb = Jvm.liveHeapMb()
      val spinEnd = spins()

      val reqMs = iters.flatMap(_.reqMs).toSeq
      val ops = iters.flatMap(_.ops)
      val opMs = ops.map(_.ms)
      val walls = iters.map(_.wallS)
      val detail = wl.describe // its own checks run here, before the verdict
      val problems = wl.problems
      val e2e = Seq(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(walls.toSeq),
        "cpu_s" -> Stats.median(iters.map(_.cpuS).toSeq),
        "ops_per_s" -> ops.size / walls.sum,
        "heap_live_mb" -> liveMb)
      val layers: Seq[(String, Double)] = if (!a.trace) Nil else {
        val fromIters = iters.flatMap(_.layers.keys).distinct.map { k =>
          k -> Stats.median(iters.map(_.layers.getOrElse(k, 0.0)).toSeq) }.toMap
        val fromSpark = sparkDeltas.flatMap(_.metrics).groupBy(_._1)
          .map { case (k, vs) => k -> Stats.median(vs.map(_._2).toSeq) }
        val all = fromIters ++ fromSpark ++ Map(
          "jvm.gc_s" -> Stats.median(gcDeltas.toSeq),
          "service.req_p50_ms" -> (if (reqMs.isEmpty) 0.0 else Stats.median(reqMs)),
          "service.req_tail_ms" -> Stats.tail(reqMs).map(_._2).getOrElse(0.0),
          "heap.peak_mb" -> heap.peakMb,
          // per iteration; a second, untraced DAG cycle to subtract would
          // not fit the run's time limit
          "trace.overhead_s" -> tracer.overheadS / iters.size)
        perLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }
      }
      val failed = ops.count(!_.ok)
      val correct = problems.isEmpty

      val units = (endToEnd ++ perLayer).toMap
      def stat(xs: Seq[Double]) = Json.obj("n" -> xs.size,
        "p50" -> (if (xs.isEmpty) None else Some(Stats.median(xs))),
        "tail" -> Stats.tail(xs).map { case (p, v) => Json.obj("p" -> p, "value" -> v) })
      val artifact = Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "correct" -> correct, "problems" -> problems,
        "attempted" -> ops.size, "failed" -> failed,
        "failed_frac" -> failed.toDouble / ops.size.max(1),
        "end_to_end" -> Json.obj(e2e.map { case (k, v) =>
          k -> Json.obj("value" -> v, "unit" -> units(k)) }: _*),
        "samples" -> Json.obj("iterations" -> iters.size, "ops" -> ops.size,
          "prepare_s" -> prepS, "warmup_s" -> warm.map(_._2), "session_s" -> sessionS,
          "launch_s" -> launchS, "measure_s" -> measureS,
          "op_ms" -> stat(opMs.toSeq), "wall_s" -> stat(walls.toSeq),
          "req_ms" -> stat(reqMs)),
        "per_layer" -> Json.obj(layers.map { case (k, v) =>
          k -> Json.obj("value" -> v, "unit" -> units(k)) }: _*),
        "config" -> Json.obj(
          "cpus" -> cpus,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
          "aqe_coalesce" -> spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
          "broadcast_threshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
          "prefer_sort_merge_join" -> spark.conf.get("spark.sql.join.preferSortMergeJoin"),
          "driver_max_heap_mb" -> Jvm.maxHeapMb,
          "warmup_iterations" -> warm.size,
          "data_dir" -> "perfbench/data/sf0.01"),
        "workload_detail" -> Json.obj(detail: _*),
        "host_probes" -> (for (s0 <- spinStart; s1 <- spinEnd) yield Json.obj(
          "spin_reg_start_s" -> s0._1, "spin_mem_start_s" -> s0._2,
          "spin_reg_end_s" -> s1._1, "spin_mem_end_s" -> s1._2)),
        "warmup" -> warm.map { case (w, s) => Json.obj("wall_s" -> s, "ops" -> w.ops.size,
          "failed" -> w.ops.count(!_.ok)) },
        "ops" -> ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
          Json.obj("name" -> n, "n" -> os.size, "p50_ms" -> Stats.median(os.map(_.ms).toSeq),
            "failed" -> os.count(!_.ok), "error" -> os.find(!_.ok).map(_.error)) })
      val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
      write(s"${a.outDir}/$tag.json", Json.render(artifact))
      if (a.trace) write(s"${a.outDir}/$tag-spans.json", Json.render(tracer.all.map(s =>
        Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))))
      problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))

      val printed = if (a.trace) layers else e2e
      println(Json.render(Json.obj("correct" -> correct, "attempted" -> ops.size,
        "failed" -> failed, "metrics" -> Json.obj(printed.map { case (k, v) =>
          k -> Json.obj("value" -> v, "unit" -> units(k)) }: _*))))
      if (correct) 0 else 1
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def write(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** Samples used heap every 10 ms on a daemon thread; keeps the peak. */
final class HeapSampler {
  @volatile private var running = true
  @volatile var peakMb = 0.0
  private val t = new Thread(() => while (running) {
    peakMb = peakMb max Jvm.heapUsedMb
    Thread.sleep(10)
  })
  t.setDaemon(true)
  def start(): Unit = t.start()
  def stop(): Unit = { running = false; t.join() }
}
