package graft.core

import graft.Bench
import graft.operators.NearDup
import graft.queries.VectorQueries
import org.scalatest.funsuite.AnyFunSuite

/** Every integer env knob: unset gives its default, the lowest allowed
  * value is accepted, and a malformed or out-of-range value fails with an
  * error that names the knob. */
class EnvSpec extends AnyFunSuite {

  // (knob, reader, default, lowest allowed value)
  private val knobs: Seq[(String, Map[String, String] => Long, Long, Long)] = Seq(
    ("SPARK_GRAFT_CPUS", e => Bench.cpus(e).toLong,
      Runtime.getRuntime.availableProcessors.toLong, 1L),
    ("SPARK_GRAFT_SHUFFLE", e => Bench.shufflePartitions(e, 7).toLong, 7L, 1L),
    ("SPARK_GRAFT_PASSES", e => Bench.passes(e).toLong, 2L, 1L),
    ("SPARK_GRAFT_SIG_CKPT_CAP", e => NearDup.sigCkptCap(e), 200000L, 0L),
    ("SPARK_GRAFT_SEMDEDUP_TILES", e => VectorQueries.tileTarget(e).toLong, 256L, 1L))

  for ((name, read, default, lowest) <- knobs) {
    test(s"$name: unset is the default, malformed fails naming the knob") {
      assert(read(Map.empty) == default)
      assert(read(Map(name -> s" $lowest ")) == lowest)
      for (bad <- Seq("", "four", "2.5", (lowest - 1).toString, "99999999999999999999")) {
        val e = intercept[IllegalArgumentException](read(Map(name -> bad)))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      }
    }
  }
}
