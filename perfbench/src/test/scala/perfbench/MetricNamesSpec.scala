package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.jdk.CollectionConverters._

class MetricNamesSpec extends AnyFunSuite {

  private val endToEnd = Main.endToEndMetrics(Seq((1.0, 1.0)), Seq(1.0))
  private val perLayer = new Layers(Seq.empty, new SparkTrace, 4, Seq.empty, 0L, 1, 0L).metrics ++
    Main.runLatencies(Seq(1.0), Seq(1.0), Seq.empty)
  private val Name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  private val Unit = "[A-Za-z0-9_/%.-]{1,16}"

  test("metric names and units stay within the allowed characters") {
    (endToEnd ++ perLayer).foreach { case (n, _, u) =>
      assert(n.matches(Name), s"metric name '$n'")
      assert(u.matches(Unit), s"unit '$u' of $n")
    }
    val names = (endToEnd ++ perLayer).map(_._1)
    assert(names.distinct.size == names.size, "names are used once")
  }

  test("BENCHMARK.json declares exactly the metrics a run prints") {
    val file = Seq(new File("../BENCHMARK.json"), new File("BENCHMARK.json")).find(_.isFile)
    assume(file.isDefined, "BENCHMARK.json not found next to the benchmark")
    val json = new ObjectMapper().readTree(file.get)
    def declared(key: String): Seq[(String, String)] =
      json.get(key).elements().asScala.map(m => (m.get("name").asText(), m.get("unit").asText())).toSeq
    assert(declared("end_to_end") == endToEnd.map(m => (m._1, m._3)))
    assert(declared("per_layer") == perLayer.map(m => (m._1, m._3)))
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toSet ==
      Main.Workloads.keySet)
  }
}
