package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every metric the benchmark prints has a name of the allowed form and is
  * declared, with the same unit, in BENCHMARK.json. */
class MetricNamesSpec extends AnyFunSuite {

  private val declared: Map[String, String] = {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    val text = try src.mkString finally src.close()
    "\\{\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("printed metric names match the allowed pattern and are declared") {
    val printed = Main.endToEnd ++ Main.perLayer
    assert(printed.map(_._1).distinct.size == printed.size)
    printed.foreach { case (name, unit) =>
      assert(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), name)
      assert(declared.get(name).contains(unit), s"$name ($unit) not declared in BENCHMARK.json")
    }
    assert(declared.keySet == printed.map(_._1).toSet)
  }

  test("workloads in BENCHMARK.json are the ones the benchmark runs") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    val text = try src.mkString finally src.close()
    val names = "\\{\"name\":\\s*\"([^\"]+)\",\\s*\"why\"".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(names == Main.workloads)
  }
}
