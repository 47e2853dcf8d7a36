package perfbench

import java.sql.{Date => SqlDate}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Clock, FixedClock}

/** Rows written per job group, from the tasks' output metrics. */
final class RowCounter extends org.apache.spark.scheduler.SparkListener {
  private val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val rows = new java.util.concurrent.ConcurrentHashMap[String, Long]().asScala

  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(groupOfStage.put(_, g)))
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    for (g <- Option(groupOfStage.get(e.stageId)); m <- Option(e.taskMetrics))
      rows.updateWith(g)(v => Some(v.getOrElse(0L) + m.outputMetrics.recordsWritten))
}

/** Seeded parquet medallion warehouse (`<base>/{raw,staging,app}/<table>`)
  * holding every input `MainDag.jobs` and `SolarEtl.jobs` read, derived from
  * the TPC-H-style tables of a scale-factor directory in the way the engine's
  * own job queries derive theirs: sites from `o_custkey` buckets, months from
  * `o_orderdate`, amounts in exact cents. The seed rotates the site buckets
  * and month mapping and scales every amount, so two seeds give different
  * data with the same shape; the same seed gives the same tables.
  *
  * Tables that a DAG job writes are seeded too where the reference's
  * warehouse holds them from earlier runs or from other systems (the
  * `app.*` targets, the fem/solar ratio tables), so every job has inputs.
  */
object Warehouse {

  /** The DAG's fixed clock: reporting month 2026-01, quarter 2025-Q4. */
  val clock: Clock = FixedClock(LocalDate.of(2026, 2, 15))
  val reportYear = 2026
  private val firstMonth = LocalDate.of(2025, 1, 1)
  private val nMonths = 13 // 2025-01 .. 2026-01, the reporting month last

  val sites: Seq[String] = Seq("WZS", "WKS", "WOK", "WTZ", "WIH", "WCD",
    "WMY", "WIHK", "WLT", "WTN", "WHC", "WMI")
  /** (plant, site, plant_code). WZS and WKS are the multi-plant sites the
    * ratio splits serve (WZS plants carry the solar-ratio names); every
    * other site is one plant named as the site, which is how the jobs key
    * their per-plant rows for those sites. */
  val plants: Seq[(String, String, String)] = {
    val named = Seq("WZS-1", "WZS-3", "WZS-6", "WZS-8").map(p => (p, "WZS")) ++
      Seq("XTRKS", "WKS-1", "WKS-6").map(p => (p, "WKS"))
    val rest = sites.filterNot(Set("WZS", "WKS")).map(s => (s, s))
    (named ++ rest).zipWithIndex.map { case ((p, s), i) => (p, s, f"PC$i%03d") }
  }
  val providers: Seq[String] = Seq("富威", "康舒", "台電綠能", "星能", "泓德")
  val areas: Seq[String] = Seq("北區", "中區", "南區")

  final case class Built(base: String, rows: Seq[(String, Long)])

  /** How many distinct warehouses the benchmark's seeds select among; each
    * has a committed output digest, so every seed's DAG outputs are checked. */
  val variants = 10

  /** The warehouse seed, 1 to [[variants]], that a benchmark seed selects. */
  def variant(seed: Long): Long = Math.floorMod(seed - 1, variants.toLong) + 1

  /** Write the whole warehouse under `base`, deleting whatever an earlier
    * run left there first; returns each table's row count, in write order. */
  def build(spark: SparkSession, sfDir: String, base: String, seed: Long): Built = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val counter = new RowCounter
    spark.sparkContext.addSparkListener(counter)
    val tables = scala.collection.mutable.ArrayBuffer.empty[String]
    // tables are independent, so they are written concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val pending = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def write(layer: String, table: String, df: DataFrame, partitionBy: Seq[String]): Unit = {
      spark.sparkContext.setJobGroup(s"$layer.$table", s"$layer.$table")
      val w = df.coalesce(1).write.mode("overwrite")
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet(s"$base/$layer/$table")
    }
    def save(layer: String, table: String, df: DataFrame,
             partitionBy: Seq[String] = Nil): Unit = {
      tables += s"$layer.$table"
      pending += pool.submit(new Runnable {
        def run(): Unit = write(layer, table, df, partitionBy) })
    }
    def h(n: Int, cs: Column*): Column =
      pmod(xxhash64((cs :+ lit(seed)): _*), lit(n.toLong)).cast("int")
    def pick(xs: Seq[String], idx: Column): Column =
      element_at(array(xs.map(lit): _*), idx + 1)
    def d(s: String) = SqlDate.valueOf(s)
    val report = d("2026-01-01")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(
        col("o_orderkey").as("okey"),
        pick(sites, pmod(col("o_custkey") + lit(seed), lit(sites.size)).cast("int"))
          .as("site"),
        add_months(lit(d(firstMonth.toString)),
          pmod(months_between(col("o_orderdate"), lit(d("1992-01-01"))).cast("int") +
            lit(seed % nMonths), lit(nMonths)).cast("int")).as("period_start"),
        // exact cents, scaled per order by 100..149 % of the order price
        (floor(col("o_totalprice") * 100).cast("long") *
          (h(50, col("o_orderkey")) + 100) / 100).cast("long").as("cents"))
      .cache()
    def amount(c: Column): Column = (c / 100.0).as("amount")
    def plantOf(site: Column, k: Column): Column = {
      val bySite = plants.groupBy(_._2).map { case (s, ps) => s -> ps.map(_._1) }
      sites.foldLeft(lit(null).cast("string")) { (acc, s) =>
        val ps = bySite(s)
        when(site === s, pick(ps, pmod(k, lit(ps.size)).cast("int"))).otherwise(acc)
      }
    }
    val siteMonth = orders.groupBy(col("site"), col("period_start"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      .cache()
    val plantMonth = orders
      .withColumn("plant", plantOf(col("site"), h(7, col("okey"))))
      .groupBy(col("site"), col("plant"), col("period_start"))
      .agg(sum(col("cents")).as("cents"))
      .cache()

    Seq(orders, siteMonth, plantMonth).foreach(_.count())

    // ---- dimensions ----
    val plantDf = plants.toDF("plant", "site", "plant_code")
    save("raw", "plant_mapping", plantDf)
    save("raw", "boundary_sites", sites.toDF("site"))

    // ---- ESGI + CSR + office sources ----
    val esgiCats = Seq("總用電度數", "綠電電量", "購買綠證電量", "自建自用電量")
    save("raw", "wzs_esgi_environment_indicator_item", orders
      .withColumn("plant", plantOf(col("site"), h(7, col("okey"))))
      .withColumn("data_name", pick(esgiCats, h(4, col("okey"), lit(1))))
      .groupBy(col("data_name"), col("plant"), col("period_start"))
      .agg(sum(col("cents")).as("cents"))
      .select(col("data_name"), col("plant"), col("period_start"),
        // about 1 in 40 cells is the source system's "NA"
        when(h(40, col("plant"), col("period_start"), col("data_name")) === 0, lit("NA"))
          .otherwise(format_string("%d.%02d", col("cents") / 100 cast "long",
            pmod(col("cents"), lit(100L)))).as("amount")))
    def siteSlice(filter: Column, salt: Int) = siteMonth.filter(filter)
      .select(col("site"), col("period_start"),
        amount(col("cents") * (h(20, col("site"), col("period_start"), lit(salt)) + 90) / 100))
    save("raw", "electricity_backstage_office", siteSlice(!col("site").isin("WZS", "WKS"), 1))
    save("raw", "wzks_office_mirror", siteSlice(col("site").isin("WZS", "WKS"), 2))
    save("raw", "electricity_backstage_update", siteSlice(lit(true), 3))
    save("raw", "wzks_csr_mirror", siteSlice(col("site").isin("WZS", "WKS"), 4))
    val csrCats = Seq("光伏", "綠電", "綠證", "轉供綠電總電量")
    save("raw", "whq_esgcsrdatabase_view_csrindicatordetail_all", siteMonth
      .withColumn("c", explode(array(csrCats.map(lit): _*)))
      .select(col("site"), year(col("period_start")).cast("string").as("year"),
        month(col("period_start")).cast("string").as("month"),
        (col("cents") * (h(30, col("site"), col("c")) + 5) / 1000 / 100.0).as("amount"),
        col("c").as("category2"), lit("").as("remark")))

    // ---- daily meter table: one meter reading per lineitem row ----
    save("raw", "wks_mfg_fem_dailypower", spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(
        pick(plants.map(_._3), h(plants.size, col("l_orderkey"), col("l_linenumber")))
          .as("plant_code"),
        date_add(lit(report), h(31, col("l_orderkey"), col("l_linenumber"))).as("datadate"),
        (floor(col("l_extendedprice") * 100) / 100.0).as("power")))

    // ---- solar sources ----
    save("raw", "solar_remain", siteMonth
      .select(when(col("site") === "WKS", "WKS/XTRKS").otherwise(col("site")).as("site"),
        col("period_start"), amount(col("cents") / 50)))
    val solarAreas = Seq("TB2", "OB1", "TB3", "TB5", "X9")
    save("raw", "solar_other", orders
      .select(col("site"), pick(solarAreas, h(5, col("okey"))).as("area"),
        col("period_start"), col("cents"))
      .groupBy(col("site"), col("area"), col("period_start"))
      .agg((sum(col("cents")) / 1e6).as("tree"), (sum(col("cents")) / 3e6).as("fuel")))
    val infoCats = Seq("capacity", "panels")
    save("raw", "solar_info", plantDf
      .withColumn("category", explode(array(infoCats.map(lit): _*)))
      .select(col("site"), col("plant"), col("category"),
        (h(5000, col("plant"), col("category")) + 100).cast("double").as("amount")))
    def ratioOf(df: DataFrame, keys: Seq[String], value: String) =
      graft.operators.Relational.shareOfGroup(df, keys, value)
    val stamp = lit(java.sql.Timestamp.valueOf(clock.today.atStartOfDay()))
    val plantReport = plantMonth.filter(col("period_start") === lit(report))
    save("raw", "fem_ratio", ratioOf(plantReport
        .select(col("site"), col("plant"), amount(col("cents"))), Seq("site"), "amount")
      .withColumn("period_start", lit(report)), Seq("period_start"))
    save("raw", "fem_ratio_plant", ratioOf(plantMonth
        .select(col("site"), col("plant"), col("period_start"), amount(col("cents"))),
        Seq("site", "period_start"), "amount")
      .select("ratio", "plant", "period_start"))
    save("raw", "fem_ratio_solar", ratioOf(plantReport
        .select(col("site"), col("plant"), amount(col("cents")).as("power")), Nil, "power")
      .withColumn("period_start", lit(report)).withColumn("last_update_time", stamp),
      Seq("period_start"))
    save("raw", "solar_ratio", ratioOf(plantMonth
        .filter(col("site") === "WZS")
        .select(col("plant"), amount(col("cents")), col("period_start")),
        Seq("period_start"), "amount")
      .withColumn("last_update_time", stamp), Seq("period_start"))

    // ---- green-power bills and tariffs ----
    val meters = plants.flatMap { case (p, s, _) =>
      (1 to 2).map(i => (s"M-$p-$i", p, s)) }
    val meterDf = meters.toDF("meter_code", "plant", "site")
    val cat2 = Seq("尖峰", "離峰", "半尖峰", "周六半尖峰", "總綠電度數")
    val cat1 = Seq("契約", "計費", "需量", "轉供")
    save("raw", "green_electric_bill", orders
      .withColumn("plant", plantOf(col("site"), h(7, col("okey"))))
      .join(meterDf, Seq("plant", "site"))
      .filter(h(2, col("okey"), col("meter_code")) === 0)
      .withColumn("category1", pick(cat1, h(4, col("okey"), lit(2))))
      .withColumn("category2", pick(cat2, h(5, col("okey"), lit(3))))
      .groupBy(col("meter_code"), col("category1"), col("category2"), col("period_start"))
      .agg(sum(col("cents")).as("cents"))
      .select(col("meter_code"), col("category1"), col("category2"),
        (col("cents") / 100.0).cast("string").as("amount"),
        year(col("period_start")).as("year"), month(col("period_start")).as("month")))
    val electTypes = Seq("高壓", "特高壓")
    save("raw", "meter_mapping", meterDf
      .withColumn("elec_price_type",
        when(h(10, col("meter_code")) === 0, "表燈營業用電價").otherwise("高壓電力"))
      .withColumn("elect_type", pick(electTypes, h(2, col("meter_code")))))
    save("raw", "provider_mapping", meterDf
      .select(pick(providers, h(providers.size, col("meter_code"))).as("provider_name"),
        col("meter_code")))
    save("raw", "area_mapping", meterDf
      .select(col("meter_code"), pick(areas, h(areas.size, col("site"))).as("area"),
        col("site"), pick(providers, h(providers.size, col("meter_code"))).as("provider_name"),
        lit(2025).as("year")))
    val baseIds = Seq(1, 2, 3)
    save("raw", "bill_base", baseIds.flatMap(b => areas.map(a => (b, a,
        java.sql.Timestamp.valueOf(s"202${2 + b}-0${b + 3}-01 00:00:00"))))
      .toDF("base_id", "area", "guideline_date"))
    save("raw", "bill_summer", (for (b <- baseIds; t <- electTypes)
        yield (t, d(s"202${2 + b}-05-16"), d(s"202${2 + b}-10-15"), b))
      .toDF("elect_type", "start_date", "end_date", "base_id"))
    save("raw", "bill_meter", (for (b <- baseIds; t <- electTypes;
        c <- Seq("經常尖峰", "離峰", "半尖峰", "週六半尖峰"); summer <- Seq(true, false))
        yield (c, (b * 100 + c.length * 7 + (if (summer) 31 else 0)) / 100.0, t, summer, b))
      .toDF("category2", "price", "elect_type", "is_summer", "base_id"))
    save("raw", "meter_group", meterDf
      .select(col("meter_code"), (h(4, col("meter_code")) + 1).cast("string").as("group_id")))
    save("raw", "meter_group_names", (1 to 4).map(i => (i.toString, s"G$i"))
      .toDF("group_id", "group_name"))
    save("raw", "provider_target", siteMonth
      .withColumn("provider", pick(providers, h(providers.size, col("site"))))
      .select(year(col("period_start")).as("year"), month(col("period_start")).as("month"),
        pick(areas, h(areas.size, col("site"))).as("area"), col("site"), col("provider"),
        (col("cents") / 300.0).cast("string").as("amount")))
    save("raw", "green_elect_price_year",
      sites.map(s => (s, 1.5 + (s.length + seed % 7) / 10.0)).toDF("site", "amount"))
    save("raw", "carbon_coef", (for (s <- sites; y <- 2022 to reportYear + 8)
        yield (s, y, 0.5 + ((s.hashCode & 0xff) + y + seed % 13) % 40 / 100.0))
      .toDF("site", "year", "coef").withColumn("amount", col("coef")))
    save("raw", "renewable_setting", (for (y <- 2022 to reportYear + 8;
        (c, a) <- Seq("PPA" -> 10.0, "solar" -> 5.0, "REC" -> 20.0))
        yield (y, c, a + (y - 2022) * 1.5 + seed % 3)).toDF("year", "category", "amount"))
    save("raw", "decarb_ratios", (for (y <- 2022 to reportYear + 8;
        (c, r) <- Seq("PPA" -> 0.1, "solar" -> 0.05, "REC" -> 0.2))
        yield (y, c, r + (y - 2022) * 0.01)).toDF("year", "category", "ratio"))
    val siteCats = Seq("製造", "辦公")
    save("raw", "source_checklist", siteMonth
      .filter(col("period_start") >= lit(d("2025-01-01")))
      .withColumn("item", explode(array(Seq("實際用電", "自建太陽能", "直購綠電", "購買綠證").map(lit): _*)))
      .select(pick(siteCats, h(2, col("site"))).as("site_category"), col("site"), col("item"),
        year(col("period_start")).as("year"), month(col("period_start")).as("month"),
        lit("Y").as("confirm")))
    save("raw", "green_purchase", sites.flatMap(s => Seq(
        (2025, s, "Q4", "-", 1.2 + s.length / 10.0, 1000.0 + s.length),
        (2025, s, "Q4", s"C-$s", 1.4, 500.0))).toDF(
        "year", "site", "quarter", "customer", "unit_price", "amount"))
    val yearly = siteMonth.groupBy(col("site"), year(col("period_start")).as("year"))
      .agg(sum(col("cents")).as("cents"))
    save("raw", "energy_demand", yearly
      .withColumn("version", explode(array(lit("V1"), lit("V2"))))
      .select(col("site"), col("year"), amount(col("cents")), col("version")))
    save("raw", "green_cer_cost", yearly.select(col("site"), col("year"),
      (h(90, col("site"), col("year")) / 100.0 + 0.1).as("amount")))
    save("raw", "green_elect_cost", yearly.select(col("site"), col("year"),
      (h(90, col("site"), col("year"), lit(5)) / 100.0 + 0.2).as("amount")))
    save("raw", "fx_rmb_usd", (2022 to reportYear + 8).map(y => (y, 0.14 + (y % 5) / 1000.0))
      .toDF("year", "rate"))

    // ---- app tables the DAG reads but other systems own ----
    save("app", "elect_target_month", siteMonth
      .withColumn("category", explode(array(lit("predict"), lit("actual"))))
      .withColumn("version", explode(array(lit(1), lit(2))))
      .select(col("site"), year(col("period_start")).as("year"),
        month(col("period_start")).as("month"), col("category"),
        amount(col("cents") * (col("version") + 9) / 10), col("version"),
        (col("version") === 1).as("validate")))
    save("app", "elect_target_year", yearly.filter(col("year") === 2025)
      .select(col("site"), pick(providers, h(providers.size, col("site"))).as("provider"),
        amount(col("cents") / 4)))
    save("app", "elect_target_year_all", yearly.filter(col("year") === 2025)
      .agg(amount(sum(col("cents")) / 4)))
    save("app", "decarb_elec_overview_base", (for (
        c <- Seq("scope1", "scope2_market", "scope2_location"); m <- 1 to 12)
        yield (2022, m, c, "actual", 1000.0 * m + c.length)).toDF(
        "year", "month", "category", "type", "ytm_amount"))
    save("app", "prior_scope1n2", Seq((2025, 12345.0 + seed % 100)).toDF("year", "amount"))
    save("app", "green_energy_customer", sites.take(4).map(s =>
        (2025, 4, s"C-$s", s, areas(s.length % areas.size), 800.0, 50.0, 40.0, 90.0,
          700.0, 30.0, 12.0, 10.0, 5.0, "")).toDF(
        "year", "quarter", "customer", "site", "area", "total_elect", "solar",
        "green_elect", "target_renew", "grey_elect", "green_energy", "predict_price",
        "green_energy_request", "actual_amount", "remark"))
    save("app", "green_elec_pre_contracts", providers.zipWithIndex.flatMap { case (p, i) =>
        Seq((p, 1000.0 * (i + 1), reportYear, areas(i % areas.size),
            Seq("光電"), 4.0 + i / 10.0),
          (p, 900.0 * (i + 1), reportYear - 1, areas(i % areas.size),
            Seq("光電", "風電"), 3.5 + i / 10.0)) }
      .toDF("provider_name", "contract_ytm_amount", "year", "area", "green_elec_type",
        "contract_price")
      .withColumn("last_update_time", lit(java.sql.Timestamp.valueOf("2025-12-31 00:00:00"))),
      Seq("year"))
    save("app", "green_elec_transfer_account", orders
      .withColumn("plant", plantOf(col("site"), h(7, col("okey"))))
      .join(meterDf, Seq("plant", "site"))
      .withColumn("category1", when(h(2, col("okey")) === 0, "green_elect_vol")
        .otherwise("grey_elect"))
      .groupBy(col("site"), col("plant"), col("meter_code"), col("category1"),
        col("period_start"))
      .agg(amount(sum(col("cents"))))
      .select(col("site"), col("plant"), col("meter_code"),
        pick(providers, h(providers.size, col("meter_code"))).as("provider_name"),
        col("category1"), lit("elect_total").as("category2"), col("amount"),
        year(col("period_start")).as("year"), month(col("period_start")).as("month"),
        col("period_start")), Seq("period_start"))

    try pending.foreach(_.get()) finally pool.shutdown()
    // version 1 of the model output, validated: what the sign-off chain's
    // simulation produced last cycle, read back from the tables above
    tables += "app.decarb_elect_simulate"
    write("app", "decarb_elect_simulate", graft.model.SignOff.approve(graft.model.SignOff.stage(
      Service.simulation(spark, base, seed), 1, reportYear), 1), Nil)
    orders.unpersist(); siteMonth.unpersist(); plantMonth.unpersist()
    spark.sparkContext.clearJobGroup()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counter)
    Built(base, tables.toSeq.map(t => t -> counter.rows.getOrElse(t, 0L)))
  }
}
