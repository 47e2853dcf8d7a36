package perfbench

import scala.collection.mutable
import graft.SparkEntry

/** Half of the engine's bench query set, every second query of
  * `SparkEntry.benchNames` (so each family keeps its share), on the
  * committed sf0.01 tables: one closed-loop client runs them per pass, in
  * an order the seed sets afresh for each pass, and collects each result
  * to the driver. Each result is checked against its committed
  * fingerprint; a query that throws fails the check as well.
  *
  * The measured pass is the first in a fresh JVM and session (cold): the
  * frames the engine pins in `Memo` are built during it. Half the set and a
  * cold pass are what the run-time budget affords next to the monthly DAG.
  * The traced run measures warm passes after a warm-up, in which pinned
  * frames survive from pass to pass as they do in `graft.Bench`. */
final class QueriesWorkload(ctx: Ctx) extends Workload {
  import ctx._

  private val names = SparkEntry.benchNames.zipWithIndex.collect { case (n, i) if i % 2 == 0 => n }
  private val queries = SparkEntry.queries
  private val expectedPath = s"$benchDir/expected/queries_sf0.01.json"
  private var expected = Map.empty[String, String]
  private val seen = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var sizes = Seq.empty[(String, Long)]

  private def family(q: String): String = q.takeWhile(_ != '_').head match {
    case 'q' => "relational"
    case 'e' => "events"
    case 't' | 'p' => "text"
    case 's' => "vector"
    case 'v' => "multimodal"
    case _ => "jobs_model"
  }

  override def prepare(): Unit = {
    expected = Expected.read(expectedPath)
    val conf = spark.sparkContext.hadoopConfiguration
    sizes = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").map { t =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dataDir/$t.parquet"), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try t -> reader.getRecordCount finally reader.close()
    }
  }

  override def iterate(i: Int): Iter = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(names)
    val cpu0 = Jvm.cpuSeconds
    val t0 = System.nanoTime()
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    // the warm-up spreads the queries over one client thread per core;
    // measured passes are one closed-loop client
    val clients = if (i == 0) Runtime.getRuntime.availableProcessors() else 1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val results = try order.map(n => pool.submit(() => runOne(n, layer, buildMs, execMs)))
      .map(_.get()) finally pool.shutdown()
    spark.sparkContext.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.cpuSeconds - cpu0
    // results are checked after the pass is timed
    results.foreach {
      case (op, Some((cols, rows))) => check(op.name, Fingerprint.ofRows(cols, rows).toString)
      case (op, None) => errors += s"${op.name}: failed, no result to check (${op.error})"
    }
    if (tracer.enabled) {
      layer("queries.build_ms") = Stats.median(buildMs.toSeq)
      layer("queries.exec_ms") = Stats.median(execMs.toSeq)
      layer("cache.pinned_bytes") = tracer.cost(spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum)
    }
    Iter(wall, cpu, results.map(_._1), layer.toMap)
  }

  /** Build and collect one query; returns its operation and, when it ran,
    * its columns and rows. */
  private def runOne(n: String, layer: mutable.Map[String, Double],
                     buildMs: mutable.ArrayBuffer[Double],
                     execMs: mutable.ArrayBuffer[Double])
      : (Op, Option[(Seq[String], Array[org.apache.spark.sql.Row])]) = {
    spark.sparkContext.setJobGroup(n, n)
    tracer.span(s"queries.$n", n) { parent =>
      val q0 = System.nanoTime()
      def ms = (System.nanoTime() - q0) / 1e6
      val result = try {
        val df = tracer.span("queries.build", n, parent)(_ => queries(n)(spark, dataDir))
        val built = ms
        val rows = tracer.span("queries.exec", n, parent)(_ => df.collect())
        val done = ms
        lock.synchronized { buildMs += built; execMs += done - built }
        (Op(n, done, ok = true), Some((df.columns.toSeq, rows)))
      } catch {
        case e: Exception => (Op(n, ms, ok = false, String.valueOf(e.getMessage).take(300)), None)
      }
      lock.synchronized(layer(s"queries.${family(n)}_s") += result._1.ms / 1e3)
      result
    }
  }

  private val lock = new Object

  private def check(n: String, print: String): Unit = {
    seen.get(n) match {
      case Some(p) if p != print =>
        errors += s"$n: result changed between passes ($p then $print)"
      case _ => seen(n) = print
    }
    expected.get(n) match {
      case Some(e) if e != print => errors += s"$n: fingerprint $print, expected $e"
      case None => errors += s"$n: no expected fingerprint in $expectedPath"
      case _ => ()
    }
  }

  override def problems: Seq[String] = errors.distinct.toSeq

  override def describe: Seq[(String, Any)] = Seq(
    "queries" -> names, "cache" -> (if (tracer.enabled)
      "warm (Memo-pinned frames survive from the warm-up)" else "cold (first pass in a fresh session)"),
    "input_rows" -> Json.obj(sizes: _*), "fingerprints" -> Json.obj(seen.toSeq: _*))
}

/** Committed expected fingerprints: a flat JSON object of name → print. */
object Expected {
  def read(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }
}
