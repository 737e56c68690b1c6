package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Tiny-scale smoke tests of the benchmark itself (run with `sbt test` in
  * this directory). */
class SmokeSpec extends AnyFunSuite {

  test("generators are pure functions of (seed, index)") {
    for (i <- 0L until 600L) {
      assert(Gen.mixed(7L, i) == Gen.mixed(7L, i))
      assert(Gen.stream(7L, 200L, i) == Gen.stream(7L, 200L, i))
    }
    for (b <- 0L until 30L) assert(Gen.mixedTruthPairs(7L, b, 0.75) == Gen.mixedTruthPairs(7L, b, 0.75))
    assert((0L until 50L).exists(i => Gen.mixed(7L, i).content != Gen.mixed(8L, i).content))
  }

  test("bad arguments are rejected with a message, not an exception") {
    val ok = Seq("--workload", "dedup-mixed", "--seed", "1", "--seconds", "5", "--trace", "0")
    assert(Main.parse(ok).isRight)
    assert(Main.parse(ok.updated(1, "nope")).left.exists(_.contains("unknown workload")))
    assert(Main.parse(ok.updated(3, "-1")).isLeft)
    assert(Main.parse(ok.updated(3, "x")).isLeft)
    assert(Main.parse(ok.updated(7, "2")).isLeft)
    assert(Main.parse(ok :+ "--bogus" :+ "1").left.exists(_.contains("unknown flag")))
    assert(Main.parse(ok.dropRight(2)).left.exists(_.contains("missing --trace")))
    assert(Main.parse(ok :+ "--seed").isLeft)
  }

  private val declared: Map[String, Seq[String]] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    Seq("end_to_end", "per_layer").map(k => k -> root.get(k).elements().asScala.map(_.get("name").asText).toSeq).toMap
  }

  for (w <- Main.Workloads; trace <- Seq(false, true)) {
    test(s"$w --trace ${if (trace) 1 else 0} prints every declared metric at tiny scale") {
      val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target", "smoke")), w).toString
      val r = Main.run(Main.Args(w, 3L, 1, trace, work, 0.03))
      val want = declared(if (trace) "per_layer" else "end_to_end")
      assert(r.metrics.map(_._1).sorted == want.sorted)
      assert(r.attempted > 0)
      assert(r.correct, s"failed ${r.failed} of ${r.attempted}")
    }
  }
}
