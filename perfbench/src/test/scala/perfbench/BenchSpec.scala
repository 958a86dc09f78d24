package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  // two triangles {0,1,2} and {3,4,5} joined by the edge 2-3, ids offset by 10
  private val undirected = Seq((0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5))
  private val g = DriverGraph(undirected.flatMap { case (a, b) =>
    Seq((a + 10L, b + 10L, 1L), (b + 10L, a + 10L, 1L))
  }.toArray)

  test("pagerank oracle sums to one and an untouched result passes") {
    val oracle = Checks.pagerankOracle(g, 5)
    assert(math.abs(oracle.sum - 1.0) < 1e-12)
    assert(Checks.pagerank(g, g.ids.zip(oracle), oracle).isEmpty)
  }

  test("a pagerank value shifted by 1e-5 fails its check") {
    val oracle = Checks.pagerankOracle(g, 5)
    val got = g.ids.zip(oracle)
    got(3) = (got(3)._1, got(3)._2 + 1e-5)
    assert(Checks.pagerank(g, got, oracle).exists(_.startsWith("pagerank:")))
  }

  test("the edge table check finds a half-edge without an equal reverse") {
    assert(Checks.edgeTable(g).isEmpty)
    assert(Checks.edgeTable(DriverGraph(Array((1L, 2L, 1L), (2L, 1L, 2L)))).nonEmpty)
    assert(Checks.edgeTable(DriverGraph(Array((1L, 2L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)))).nonEmpty)
  }

  test("components, triangles and communities against their oracles") {
    assert(Checks.componentsOracle(g).toSeq == Seq.fill(6)(10L))
    assert(Checks.trianglesOracle(g) == 2L)
    assert(Checks.components(g, g.ids.map(i => (i, 10L)), Checks.componentsOracle(g)).isEmpty)
    assert(Checks.components(g, g.ids.map(i => (i, i)), Checks.componentsOracle(g)).nonEmpty)
    assert(Checks.communities(g, g.ids.map(i => (i, 10L))).isEmpty)
    assert(Checks.communities(g, g.ids.map(i => (i, 99L))).nonEmpty)
  }

  private def partitionOf(assign: Array[(Long, Int)], cut: Long) = {
    val w = new Array[Long](2)
    assign.foreach(a => w(a._2) += 1)
    Checks.PartitionOut(assign, cut, w, maxBlockWeight = 4L, k = 2)
  }

  test("a valid partition passes and a node moved to another block fails") {
    val assign = g.ids.map(i => (i, if (i < 13) 0 else 1))
    val out = partitionOf(assign, cut = 1L)
    assert(Checks.partition(g, out, recomputedCut = 1L).isEmpty)
    val moved = assign.clone()
    moved(0) = (moved(0)._1, 1)
    assert(Checks.partition(g, out.copy(assignment = moved), recomputedCut = 3L).nonEmpty)
    // even where the cut would not show the move, the block weights do
    assert(Checks.partition(g, out.copy(assignment = moved), recomputedCut = 1L).nonEmpty)
  }

  test("a partition over the weight bound or with a block id out of range fails") {
    val all0 = g.ids.map(i => (i, 0))
    assert(Checks.partition(g, partitionOf(all0, 0L), 0L).exists(_.contains("infeasible")))
    val outOfRange = g.ids.map(i => (i, 2))
    assert(Checks.partition(g, partitionOf(all0, 0L).copy(assignment = outOfRange), 0L).nonEmpty)
  }

  test("self time is the duration minus the union of the children") {
    val parent = Span(0, None, "pass", "w:0", 0L, 100L)
    val spans = Seq(parent,
      Span(1, Some(0), "a", "w:0", 10L, 30L),
      Span(2, Some(0), "b", "w:0", 20L, 50L),
      Span(3, Some(0), "c", "w:0", 70L, 80L),
      Span(4, Some(1), "grandchild", "w:0", 12L, 14L))
    assert(Spans.selfTime(parent, spans) == 50L)
    assert(Spans.selfTime(spans(1), spans) == 18L)
    assert(Spans.unionLength(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L)
  }

  test("jobs are charged to the latest span that can hold their submission") {
    val a = Span(0, None, "a", "w:0", 0L, 5000000L)
    val b = Span(1, None, "b", "w:0", 5000100L, 9000000L)
    val jobs = Seq(new JobStats(1000000L), new JobStats(5000000L), new JobStats(8000000L),
      new JobStats(20000000L))
    val charged = Spans.charge(Seq(a, b), jobs)
    assert(charged(0).map(_.start) == Seq(1000000L))
    assert(charged(1).map(_.start) == Seq(5000000L, 8000000L))
  }

  test("metric names are well formed, within the limits and those of BENCHMARK.json") {
    val ledger = new JobLedger(new Tracer(layers = true), keepTaskIntervals = true)
    val e2e = Main.endToEnd(Nil, ledger, 0L).map(_._1)
    val layer = Main.perLayer(Nil, new Tracer(layers = true), ledger).map(_._1)
    val ok = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
    assert((e2e ++ layer).forall(_.matches(ok)))
    assert((e2e ++ layer).distinct.size == e2e.size + layer.size)
    assert(e2e.size <= 16 && layer.size <= 128)

    val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = json.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    assert(names("end_to_end") == e2e)
    assert(names("per_layer") == layer)
    assert(names("workloads").forall(w => Workloads.all.exists(_.name == w)))
  }
}
