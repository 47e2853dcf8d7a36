package perfbench

import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The seeded warehouse is a function of its seed, and the monthly workload's
  * checks hold on more than the seeds used to tune the benchmark. */
class WarehouseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Bench.buildSession("2")
  private val data = "data/sf0.01"
  private def tempDir(prefix: String): String = {
    val root = java.nio.file.Paths.get("target", "test-tmp")
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix).toAbsolutePath.toString
  }
  override def afterAll(): Unit = spark.stop()

  private def prints(base: String, tables: Seq[String]): Map[String, String] =
    tables.map(t => t -> Fingerprint.of(spark.read.parquet(s"$base/${t.replace('.', '/')}"))
      .toString).toMap

  test("the same seed gives identical tables; another seed changes the data") {
    def build(seed: Long) = {
      val dir = tempDir("wh")
      dir -> Warehouse.build(spark, data, dir, seed)
    }
    val (d1, b1) = build(7)
    val (d2, b2) = build(7)
    val (d3, b3) = build(8)
    val tables = b1.rows.map(_._1)
    assert(tables.size >= 40)
    assert(b1.rows == b2.rows)
    assert(b1.rows.forall(_._2 > 0), b1.rows.filter(_._2 == 0))
    val p1 = prints(d1, tables)
    assert(p1 == prints(d2, tables))
    val p3 = prints(d3, tables)
    val changed = tables.filter(t => p1(t) != p3(t))
    assert(changed.size > tables.size / 2, s"only ${changed.mkString(", ")} changed")
    assert(b3.rows.map(_._1) == tables)
  }

  test("every seed selects a warehouse with a committed output digest") {
    val expected = Expected.read("expected/dag_monthly.json")
    val picked = (-20L to 40L).map(Warehouse.variant).toSet
    assert(picked == (1L to Warehouse.variants).toSet)
    assert(picked.forall(v => expected.contains(s"seed$v")), expected.keySet)
    assert((1L to Warehouse.variants).forall(v => Warehouse.variant(v) == v))
  }

  test("a large seed passes every check of the monthly cycle, re-run included") {
    val out = tempDir("bench")
    val ctx = Ctx(spark, seed = 12345L, dataDir = data, outDir = out,
      benchDir = new java.io.File(".").getAbsolutePath, tracer = new Tracer(false))
    val wl = new DagWorkload(ctx)
    try {
      wl.prepare()
      val first = wl.iterate(0)
      val again = wl.iterate(1)
      assert(wl.problems.isEmpty, wl.problems)
      assert(first.ops.map(_.name) == again.ops.map(_.name))
      assert(first.ops.count(_.name == "establish") == 2)
      // the jobs that fail from engine defects, on any seed; the quarterly
      // overview writes on a fresh warehouse and fails on every re-run
      val defects = Set("source_to_raw:fem_ratio", "source_to_raw:fem_ratio_solar",
        "source_to_raw:solar_ratio", "staging_cal:decarb_elec_overview",
        "staging_to_app:green_elec_transfer_account", "staging_to_app:green_elect_overview",
        "staging_to_app:solar_energy_overview", "decarb_path_etl", "source_status")
      assert(first.ops.filter(!_.ok).map(_.name).toSet == defects)
      assert(again.ops.filter(!_.ok).map(_.name).toSet == defects + "green_energy_overview")
      assert(wl.describe.nonEmpty && wl.problems.isEmpty, wl.problems)
    } finally wl.close()
  }
}
