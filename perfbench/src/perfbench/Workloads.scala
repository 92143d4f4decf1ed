package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos._
import graft.engine.{CheckpointStore, Lineage, SuperstepConfig, SuperstepResult}
import graft.graph.{GraphOps, TestGraphs}
import graft.streaming.EdgeStream

/** A named output check, run outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)


trait Workload {
  def name: String
  /** Untimed passes before the timed ones, counted in set-up. A cold pass
    * runs 1.5–2× slower than a warm one, and a short pass keeps speeding
    * up for a few passes more.
    */
  def warmups: Int
  /** Writes the seeded inputs under `dir`; may run several times. */
  def setUp(spark: SparkSession, seed: Long, dir: String): Unit
  /** Runs one pass; returns the checks over its outputs, which run only
    * for the last timed pass.
    */
  def pass(spark: SparkSession, t: Tracer, dir: String, passId: String): () => Seq[Check]
}

object Workloads {
  /** Shuffle partitions and loop partitions: one per core of `local[4]`. */
  val Parts = 4

  val all: Seq[Workload] = Seq(Sf01Rounds, Sf01Motifs)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  def cfg: SuperstepConfig = SuperstepConfig(numPartitions = Parts)

  /** Row count, an order-independent hash over every column and any
    * `extra` aggregates, in one action: forces the whole output to be
    * computed, as a reader of it would.
    */
  def digest(df: DataFrame, extra: Column*): Row =
    df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toSeq: _*)) +: extra: _*)
      .head()

  def noteSupersteps(t: Tracer, r: SuperstepResult): Unit = {
    t.note("supersteps", r.supersteps)
    t.note("superstep_ms", r.metrics.map(_("wallMs").toLong))
  }

  /** Vertices whose labels differ between two (id, component) frames,
    * counting ids present in only one of them.
    */
  def labelMismatches(a: DataFrame, b: DataFrame): Long =
    a.select(col("id"), col("component").as("ca"))
      .join(b.select(col("id"), col("component").as("cb")), Seq("id"), "full_outer")
      .where(!col("ca").eqNullSafe(col("cb")))
      .count()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))
    finally walk.close()
  }
}

import Workloads._

/** TPC-H-shaped `lineitem(l_orderkey, l_partkey)`: 1.5M·sf orders of 1–7
  * lines, part keys uniform over 200K·sf parts, from a fixed generator.
  * The seed then keeps a deterministic 15/16 sample of the orders, chosen
  * by `md5(seed:orderkey)`.
  */
object TpchSample {
  def write(spark: SparkSession, sf: Double, seed: Long, sfDir: String): Unit = {
    val orders = (1500000 * sf).toLong
    val parts = (200000 * sf).toLong
    spark.range(1, orders + 1).select(col("id").as("l_orderkey"))
      .where(substring(md5(concat(lit(s"$seed:"), col("l_orderkey"))), 1, 1) =!= "f")
      .withColumn("line", explode(sequence(lit(1L),
        pmod(xxhash64(col("l_orderkey"), lit("lines")), lit(7L)) + 1)))
      .select(col("l_orderkey"),
        (pmod(xxhash64(col("l_orderkey"), col("line")), lit(parts)) + 1)
          .as("l_partkey"))
      .write.mode("overwrite").parquet(s"$sfDir/lineitem.parquet")
  }
}

/** Many small loops on the weight ≥ 2 co-purchase graph: the serial cost
  * per Spark action dominates. PageRank runs 4 supersteps straight, then
  * again snapshotted every 2 supersteps, stopped at 2 and resumed to 4.
  * HashMin runs over a 98 % base of the edges and `cc_incr` folds the
  * other 2 % into its labels; the stream replays all edges as micro-batches.
  */
object Sf01Rounds extends Workload {
  val name = "sf01_rounds"
  val warmups = 1
  val Sf = 0.1
  /** Caps that keep one pass near twenty-five seconds on four cores.
    * PageRank to 1e-6 takes ~95 supersteps on this graph and label
    * propagation oscillates on it, so both run to a fixed cap: one batch
    * of rounds each.
    */
  val PrSteps = 4
  val LpRounds = 4
  val StreamSplits = 2

  def setUp(spark: SparkSession, seed: Long, dir: String): Unit =
    TpchSample.write(spark, Sf, seed, s"$dir/sf")

  def pass(spark: SparkSession, t: Tracer, dir: String,
           passId: String): () => Seq[Check] = {
    val (cpw, und, ew, undEdges) = t.span("graph.derive") {
      val cpw = Lineage.cut(TestGraphs.copurchase(spark, s"$dir/sf")
        .where(col("weight") >= 2), eager = true)
      val und = Lineage.cut(
        GraphOps.symmetrizeOriented(cpw.select("src", "dst")), eager = true)
      val w = col("weight").cast("double").as("weight")
      val ew = Lineage.cut(cpw.select(col("src"), col("dst"), w)
        .union(cpw.select(col("dst"), col("src"), w)), eager = true)
      val n = cpw.count()
      t.note("edges", n)
      (cpw, und, ew, 2 * n)
    }
    val cpf = cpw.select("src", "dst")
    val prCfg = cfg.copy(maxIter = PrSteps)
    val pr = t.span("algos.pagerank") {
      val r = PageRank.run(spark, und, prCfg)
      noteSupersteps(t, r)
      t.note("edges", undEdges)
      r
    }
    val ck = new CheckpointStore(s"$dir/ckpt", "pr", s"pass$passId")
    val ckCfg = prCfg.copy(checkpoint = Some(ck), durableEvery = 2)
    t.span("engine.checkpoint_run") {
      noteSupersteps(t, PageRank.run(spark, und, ckCfg.copy(maxIter = PrSteps / 2)))
    }
    val resumed = t.span("engine.resume") {
      val r = PageRank.run(spark, und, ckCfg, resume = true)
      noteSupersteps(t, r)
      r
    }
    val inDelta =
      GraphOps.md5Prio(concat_ws(":", col("src"), col("dst"))) % 50 === 0
    val base = t.span("algos.cc") {
      val r = ConnectedComponents.run(spark, cpf.where(!inDelta),
        cfg.copy(batchSize = 4), orientedInput = true)
      noteSupersteps(t, r)
      r.state
    }
    t.span("algos.lp") {
      val (labels, rounds) = LabelPropagation.run(spark, und,
        maxRounds = LpRounds, numPartitions = Parts)
      t.note("rounds", rounds)
      digest(labels)
    }
    t.span("algos.kcore") { digest(KCore.converged(cpf, 3)._1) }
    t.span("algos.msf") { digest(Msf.run(spark, cpw, Parts)) }
    t.span("algos.sssp_delta") {
      digest(Paths.deltaStepping(spark, ew, ew.agg(min(col("src"))),
        delta = 2.0, numPartitions = Parts)._1)
    }
    val incr = t.span("algos.cc_incr") {
      val out = ConnectedComponents.incremental(spark, base, cpf.where(inDelta), cfg)
      digest(out)
      out
    }
    val streamed = t.span("streaming.stream_cc") {
      val out = EdgeStream.ccViaStream(cpf, Parts, splits = StreamSplits)
      digest(out)
      out
    }
    () => {
      val prDiff = resumed.state.select(col("id"), col("rank").as("a"))
        .join(pr.state.select(col("id"), col("rank").as("b")), Seq("id"), "full_outer")
        .where(!col("a").eqNullSafe(col("b"))).count()
      val full = ConnectedComponents.run(spark, cpf, cfg.copy(batchSize = 4),
        orientedInput = true).state
      val incrDiff = labelMismatches(incr, full)
      val streamDiff = labelMismatches(streamed, full)
      Seq(
        Check("pr_resume_equals_straight",
          prDiff == 0 && resumed.supersteps == pr.supersteps,
          s"$prDiff ranks differ after ${resumed.supersteps} supersteps"),
        Check("cc_incr_equals_full_run", incrDiff == 0,
          s"$incrDiff vertices differ"),
        Check("stream_cc_equals_hashmin", streamDiff == 0,
          s"$streamDiff vertices differ"))
    }
  }
}

/** Motif counts on the full co-purchase graph: no loops, the work is
  * joins, shuffle and hash builds.
  */
object Sf01Motifs extends Workload {
  val name = "sf01_motifs"
  val warmups = 2
  val Sf = 0.005

  def setUp(spark: SparkSession, seed: Long, dir: String): Unit =
    TpchSample.write(spark, Sf, seed, s"$dir/sf")

  def pass(spark: SparkSession, t: Tracer, dir: String,
           passId: String): () => Seq[Check] = {
    val cp = t.span("graph.derive") {
      val e = Lineage.cut(TestGraphs.copurchase(spark, s"$dir/sf"), eager = true)
      t.note("edges", e.count())
      e
    }
    val triangles = t.span("algos.triangles") {
      TriangleCount.count(cp, canonicalInput = true).head().getLong(0)
    }
    val lccTri = t.span("algos.lcc") {
      digest(TriangleCount.localClustering(cp, canonicalInput = true),
        sum(col("tri_cnt"))).getLong(2)
    }
    t.span("algos.kclique4") {
      TriangleCount.fourCliques(cp, canonicalInput = true).head().getLong(0)
    }
    () => Seq(
      Check("triangles_equal_lcc_sum_over_3", lccTri == 3 * triangles,
        s"count $triangles, sum of per-vertex counts $lccTri"))
  }
}
