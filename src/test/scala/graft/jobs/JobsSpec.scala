package graft.jobs

import java.time.LocalDate
import java.sql.{Date => SqlDate}
import graft.SparkSpec
import graft.core.FixedClock

class JobsSpec extends SparkSpec {
  import spark.implicits._

  private val clock = FixedClock(LocalDate.of(2026, 8, 1))
  private def d(s: String) = SqlDate.valueOf(s)

  test("electricityDecarb: CSR rows gain solar, esgi rows keep amount, YTM + ALL rollup") {
    val origin = Seq(
      ("S1", 100.0, d("2026-01-01"), "CSR"),
      ("S1", 50.0, d("2026-01-01"), "esgi"),
      ("S1", 200.0, d("2026-02-01"), "CSR"),
      ("S2", 10.0, d("2026-01-01"), "CSR") // not a boundary site -> dropped
    ).toDF("site", "amount", "period_start", "type")
    val solar = Seq(("S1", 5.0, d("2026-01-01"))).toDF("site", "amount", "period_start")
    val boundary = Seq("S1").toDF("site")

    val got = RawToStaging.electricityDecarb(origin, solar, boundary, clock)
      .select("bo", "site", "amount", "ytm_amount", "period_start", "unit")
      .as[(String, String, Double, Double, SqlDate, String)].collect().toSet

    // detail (bo literally 'ALL', reference quirk): Jan esgi 50 (ytm 50),
    // Jan CSR 105 (ytm 155, amount-tiebreak puts 50 first), Feb 200 (ytm 355)
    // rollup  (site 'ALL'): Jan 155/205? -> amounts 105+50=155, ytm 50+155=205; Feb 200, ytm 355
    assert(got == Set(
      ("ALL", "S1", 50.0, 50.0, d("2026-01-01"), "度"),
      ("ALL", "S1", 105.0, 155.0, d("2026-01-01"), "度"),
      ("ALL", "S1", 200.0, 355.0, d("2026-02-01"), "度"),
      ("ALL", "ALL", 155.0, 205.0, d("2026-01-01"), "度"),
      ("ALL", "ALL", 200.0, 355.0, d("2026-02-01"), "度")))
  }

  test("renewableEnergyDecarb decodes categories and renames WKS-P6 sites") {
    val renew = Seq(
      ("WKS-P6A", "光伏", 10.0, d("2026-01-01")),
      ("WKS-P6A", "光伏", 20.0, d("2026-02-01")),
      ("S1", "綠電", 7.0, d("2026-01-01"))
    ).toDF("site", "category", "amount", "period_start")
    val boundary = Seq("WKS-6A", "S1").toDF("site")

    val got = RawToStaging.renewableEnergyDecarb(renew, boundary, clock)
      .select("bo", "site", "category", "amount", "ytm_amount", "period_start")
      .as[(String, String, String, Double, Double, SqlDate)].collect().toSet

    assert(got == Set(
      ("ALL", "WKS-6A", "solar_energy", 10.0, 10.0, d("2026-01-01")),
      ("ALL", "WKS-6A", "solar_energy", 20.0, 30.0, d("2026-02-01")),
      ("ALL", "S1", "green_electricity", 7.0, 7.0, d("2026-01-01")),
      ("ALL", "ALL", "solar_energy", 10.0, 10.0, d("2026-01-01")),
      ("ALL", "ALL", "solar_energy", 20.0, 30.0, d("2026-02-01")),
      ("ALL", "ALL", "green_electricity", 7.0, 7.0, d("2026-01-01"))))
  }

  test("pipeline isolates job failures and reports both outcomes") {
    val notifier = new Pipeline.CollectingNotifier
    val failed = Pipeline.run(spark, Seq(
      Pipeline.Job("ok_job", _ => ()),
      Pipeline.Job("boom", _ => throw new RuntimeException("nope")),
      Pipeline.Job("after_boom", _ => ())
    ), notifier)
    assert(failed == Seq("boom"))
    assert(notifier.events.toList == List(
      ("success", "ok_job"), ("failure", "boom: nope"), ("success", "after_boom")))
    // a fatal JVM error is not a job failure: it escapes and the DAG stops
    val fatalNotifier = new Pipeline.CollectingNotifier
    intercept[LinkageError](Pipeline.run(spark, Seq(
      Pipeline.Job("linkage", _ => throw new LinkageError("bad class")),
      Pipeline.Job("after_linkage", _ => ())
    ), fatalNotifier))
    assert(fatalNotifier.events.isEmpty)
  }

  test("mail routing formats the reference's cron report bodies exactly") {
    val box = new Mail.CollectingTransport
    val router = Mail.Router("production",
      operators = Seq("ops@example.com"),
      developers = Seq("dev@example.com"), transport = box)
    val failed = Pipeline.run(spark, Seq(
      Pipeline.Job("raw_to_staging:elect_total", _ => ()),
      Pipeline.Job("green elec pre contracts etl info",
        _ => throw new RuntimeException("connection refused"))
    ), new Mail.MailNotifier(router))
    assert(failed == Seq("green elec pre contracts etl info"))
    assert(box.sent.toList == List(
      Mail.Message(
        "[success][production][raw_to_staging:elect_total] decarb-etl cron job report",
        "All raw_to_staging:elect_total success.", Seq("ops@example.com")),
      // the reference's failure report (mail_service.py send_fail_mail +
      // staging_cal.py:380-383's '[failed][stage] ...' convention)
      Mail.Message(
        "[failed][production][green elec pre contracts etl info] decarb-etl cron job report",
        "[failed]: connection refused", Seq("ops@example.com"))))
    // async-task failure routes to developers with the task id inline
    router.taskFailure("simulate", "task-42", "OOM")
    assert(box.sent.last == Mail.Message(
      "[failed][production][simulate] decarb-etl cron job report",
      "[failed]: simulate task failed, Task task-42, OOM",
      Seq("dev@example.com")))
    // notify: topic-verbatim subject, HTML flag, recipient override
    router.notify("sign-off ready", "<b>done</b>", Some(Seq("boss@example.com")))
    assert(box.sent.last ==
      Mail.Message("sign-off ready", "<b>done</b>", Seq("boss@example.com"), html = true))
  }

  test("single-flight guard rejects a concurrent submit and recovers after failure") {
    val guard = new Pipeline.SingleFlight("simulator")
    // a submit racing a running one is rejected, not queued (the
    // reference's maxsize-1 queue raises QueueFull)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val first = new Thread(() => {
      guard.submit { started.countDown(); gate.await(); "done" }
      ()
    })
    first.start()
    started.await()
    assert(guard.isBusy)
    assert(guard.submit("second") == Left("simulator is busy"))
    gate.countDown(); first.join()
    // a failing work unit propagates its exception AND releases the permit
    intercept[RuntimeException] {
      guard.submit[String] { throw new RuntimeException("boom") }
    }
    assert(!guard.isBusy)
    assert(guard.submit("third") == Right("third"))
  }

  test("scope2/scope1 emission math matches the reference formulas") {
    val elect = Seq(
      ("S1", d("2026-01-01"), 1000.0, 1000.0),
      ("S2", d("2026-01-01"), 500.0, 500.0)
    ).toDF("site", "period_start", "amount", "ytm_amount")
    val offsets = Seq(("S1", d("2026-01-01"), 200.0, 200.0))
      .toDF("site", "period_start", "amount", "ytm_amount")
    val coef = Seq(("S1", 0.5), ("S2-ALIAS", 0.8)).toDF("site", "coef")
    val coefFixed = StagingCal.coefPreprocess(coef, Map("S2-ALIAS" -> "S2"))

    val s2 = StagingCal.scope2(elect, offsets, coefFixed)
      .as[(SqlDate, Double, Double)].head()
    // S1: (1000-200)*0.5/1000 = 0.4 ; S2: (500-0)*0.8/1000 = 0.4 -> 0.8
    assert(approx(s2._2, 0.8) && approx(s2._3, 0.8))

    val s1 = StagingCal.scope1(StagingCal.scope2(elect, offsets, coefFixed))
      .as[(SqlDate, Double, Double)].head()
    assert(approx(s1._2, 0.8 * 0.06 / 0.94))

    val both = StagingCal.scope1n2(
        StagingCal.scope1(StagingCal.scope2(elect, offsets, coefFixed)),
        StagingCal.scope2(elect, offsets, coefFixed))
      .as[(SqlDate, Double, Double)].head()
    assert(approx(both._2, 0.8 + 0.8 * 0.06 / 0.94))
  }
}
