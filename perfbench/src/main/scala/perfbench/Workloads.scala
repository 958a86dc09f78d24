package perfbench

import graft.extract.{HtmlExtract, PageGen}
import graft.graph.SyntheticGraph
import graft.ops.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.partition.{Metrics, Partitioner, Preset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one pass returned: its outputs as the checks need them, plus the quality and
  * stage numbers the benchmark reports.
  */
trait Outcome {
  /** Failures of the output checks, each prefixed with the call it blames. */
  def check(): Seq[String]
  /** Edge cut of the partition the pass returned (0 when it partitions nothing). */
  def partitionCut: Long = 0L
  /** Imbalance of the partition the pass returned (0 when it partitions nothing). */
  def imbalance: Double = 0.0
  /** Edge cut between the LP communities the pass returned (0 when it runs no LP). */
  def communityCut: Long = 0L
  def stageTimes: Map[String, Double] = Map.empty
  def levels: Int = 0
  def supersteps: Int = 0
  /** (nodes, half-edges) of the graph the pass's calls ran on, once checked. */
  def inputSize: (Long, Long)
  /** Drop what the benchmark itself cached for the pass. */
  def release(): Unit = ()
}

/** One workload: an input generated from the seed, and the calls of one pass. The
  * algorithm seed stays 42 whatever the input seed.
  */
trait Workload {
  def name: String
  /** Layer calls in one pass, each of which can fail. */
  def calls: Int
  /** Untimed passes before timing starts. */
  def warmupPasses: Int = 1
  /** Generate the input from `seed` and write it as parquet to `path`. */
  def generate(spark: SparkSession, seed: Long, path: String): Unit
  /** The timed calls of one pass over the input at `path`. */
  def run(spark: SparkSession, path: String, t: Tracer): Outcome
}

object Workloads {
  val AlgoSeed = 42L

  /** The generator seed of input `i` of a run with input seed `seed`. */
  def inputSeed(seed: Long, i: Int): Long = seed * 1000003L + i
  val PageRankIterations = 5
  val LabelPropagationRounds = 2

  /** `partition_dist` is not in BENCHMARK.json: its cold pass and one timed pass
    * take about a minute on 4 cores, more than a run's share of the benchmark's time
    * budget. Run it by name when working on the distributed partition path.
    */
  val all: Seq[Workload] = Seq(CrawlOps, PartitionDist, PartitionDriver)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))

  /** The driver-side graph is built once per run, from the first pass's edges: the
    * input and the extraction are deterministic, so a later pass whose edges differ
    * fails its checks against it.
    */
  private val graphs = scala.collection.mutable.HashMap.empty[String, DriverGraph]
  private[perfbench] def driverGraph(key: String, edges: => DataFrame): DriverGraph =
    graphs.getOrElseUpdate(key, DriverGraph(
      edges.select(col("src"), col("dst"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))))

  private def cutOf(g: DriverGraph, label: Array[Long]): Long = {
    var cut = 0L
    for (u <- 0 until g.n; i <- g.xadj(u) until g.xadj(u + 1) if label(u) != label(g.adj(i)))
      cut += g.weight(i)
    cut / 2
  }

  /** Crawl pages -> link extraction -> PageRank, CC, LP communities, triangles. */
  object CrawlOps extends Workload {
    val name = "crawl_ops"
    val calls = 5
    val Hosts = 50
    val PagesPerHost = 100

    def generate(spark: SparkSession, seed: Long, path: String): Unit =
      PageGen.generateDf(spark, Hosts, PagesPerHost, seed).write.mode("overwrite").parquet(path)

    def run(spark: SparkSession, path: String, t: Tracer): Outcome = {
      val pages = spark.read.parquet(path)
      val edges = t.layer("extract") {
        val e = HtmlExtract.edgeTable(pages)._1.persist(StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      def pairs[A](df: DataFrame, f: org.apache.spark.sql.Row => A): Array[(Long, A)] =
        df.collect().map(r => (r.getLong(0), f(r)))
      val pr = t.layer("ops.pagerank") {
        pairs(PageRank.run(spark, edges, PageRankIterations).select("node", "pr"), _.getDouble(1))
      }
      val cc = t.layer("ops.cc") {
        pairs(ConnectedComponents.run(spark, edges).select("node", "component"), _.getLong(1))
      }
      val lp = t.layer("ops.lp") {
        val labels = LabelPropagation.run(spark, edges, maxIter = LabelPropagationRounds, seed = AlgoSeed)
        pairs(labels.select("node", "label"), _.getLong(1))
      }
      val tri = t.layer("ops.triangles") { Triangles.count(spark, edges).first().getLong(0) }
      new CrawlOutcome(path, edges, pr, cc, lp, tri)
    }
  }

  final class CrawlOutcome(path: String, edges: DataFrame, pr: Array[(Long, Double)],
      cc: Array[(Long, Long)], lp: Array[(Long, Long)], tri: Long) extends Outcome {
    private lazy val g = driverGraph(path, edges)

    def check(): Seq[String] =
      Checks.edgeTable(g) ++
        Checks.pagerank(g, pr, Checks.pagerankOracle(g, Workloads.PageRankIterations)) ++
        Checks.components(g, cc, Checks.componentsOracle(g)) ++
        Checks.communities(g, lp) ++
        Checks.triangles(tri, Checks.trianglesOracle(g))

    override lazy val communityCut: Long = {
      val label = new Array[Long](g.n)
      lp.foreach { case (id, l) => g.indexOf(id).foreach(label(_) = l) }
      cutOf(g, label)
    }

    def inputSize: (Long, Long) = (g.n.toLong, g.adj.length.toLong)
    override def release(): Unit = edges.unpersist()
  }

  abstract class PartitionWorkload(val name: String, n: Long, k: Int) extends Workload {
    val calls = 1
    val Epsilon = 0.03

    def generate(spark: SparkSession, seed: Long, path: String): Unit =
      SyntheticGraph.zipfEdges(spark, n, avgDeg = 8, gamma = 3.0, seed = seed)
        .write.mode("overwrite").parquet(path)

    def configure(p: Partitioner): Partitioner

    def run(spark: SparkSession, path: String, t: Tracer): Outcome = {
      val edges = spark.read.parquet(path)
      val res = t.layer("partition") {
        configure(Partitioner(edges).setK(k).setEpsilon(Epsilon).setSeed(AlgoSeed))
          .computePartition(spark)
      }
      new Outcome {
        private lazy val g = driverGraph(path, edges)
        def inputSize: (Long, Long) = (g.n.toLong, g.adj.length.toLong)
        def check(): Seq[String] = {
          val out = Checks.PartitionOut(
            res.assignment.select("node", "block").collect()
              .map(r => (r.getLong(0), r.getAs[Number](1).intValue())),
            res.cut, res.blockWeights, res.ctx.maxBlockWeight, k)
          Checks.partition(g, out, Metrics.edgeCut(edges, res.assignment)) ++
            Option.when(!res.feasible)("partition: Result.feasible is false")
        }
        override val partitionCut = res.cut
        override val imbalance = res.imbalance
        override val stageTimes = res.stageTimes
        override val levels = res.iterMetrics.map(_.level).distinct.count(_ >= 0)
        override val supersteps = res.iterMetrics.size
      }
    }
  }

  /** Distributed multilevel path: one LP coarsening level on Spark, then every
    * distributed refinement stage of the default chain with fewer supersteps each,
    * so that a pass stays within the run's time.
    */
  object PartitionDist extends PartitionWorkload("partition_dist", n = 2000L, k = 16) {
    val Chain = Preset.Default.copy(name = "bench", refineIters = 2, jetRounds = 1,
      polishIters = 1, pairFmRounds = 1)
    def configure(p: Partitioner): Partitioner = p.setPreset(Chain).setDriverThreshold(1000L)
  }

  /** The whole graph goes to the driver's sequential partitioner. */
  object PartitionDriver extends PartitionWorkload("partition_driver", n = 1000L, k = 8) {
    // the driver-side refinement is still getting faster in the fifth pass of a JVM
    override val warmupPasses = 5
    def configure(p: Partitioner): Partitioner = p.setDriverThreshold(Long.MaxValue)
  }
}
