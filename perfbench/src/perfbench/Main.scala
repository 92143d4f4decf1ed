package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload as a closed loop from one client thread on
  * `local[4]`: set up (session, seeded inputs several times, warm-up
  * passes), then timed passes until `--seconds` have gone, then the output
  * checks on the last pass. Writes the raw measurements as one JSON object
  * to `--out`; `run.py` turns them into the reported metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file>
  * }}}
  */
object Main {
  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val wl = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Path.of(opt("work")).toAbsolutePath
    val input = work.resolve("input")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", Workloads.Parts.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val probe = new Probe(spark)
    if (traced) probe.tracePlans()
    val tracer = new Tracer(spark, traced)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    def runPass(id: String): (() => Seq[Check], Double) = {
      // Start every pass from the same state: no snapshots, cached blocks
      // or garbage left by the previous one.
      Workloads.deleteTree(input.resolve("ckpt"))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val out = tracer.pass(id)(wl.pass(spark, tracer, input.toString, id))
      probe.fence()
      out
    }

    val genS = mutable.ArrayBuffer.empty[Double]
    var warmupS = Double.NaN
    val passes = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    var checks = Seq.empty[Check]
    var error: String = null
    try {
      for (_ <- 1 to SetupReps) genS += timed(wl.setUp(spark, seed, input.toString))
      warmupS = (1 to wl.warmups).map(_ => runPass("0")._2).sum
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var last: () => Seq[Check] = null
      while (last == null || System.nanoTime() < deadline) {
        val id = (passes.size + 1).toString
        val (res, wall) = runPass(id)
        last = res
        passes += ListMap("id" -> id, "wall_s" -> wall) ++ probe.pass(id)
      }
      checks = last()
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        error = sw.toString
    }

    val timedSpans = tracer.spans.filter(_.pass != "0").map { s =>
      ListMap("name" -> s.name, "pass" -> s.pass, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> (s.startMs + (s.seconds * 1000).toLong),
        "s" -> s.seconds, "extra" -> s.extra) ++
        (if (traced && s.parent != null) probe.span(s.pass, s.name) else Nil)
    }
    val record = ListMap(
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced,
      "cores" -> Cores, "seconds" -> seconds,
      "setup" -> ListMap("session_s" -> sessionS, "gen_s" -> genS,
        "warmup_s" -> warmupS),
      "passes" -> passes,
      "spans" -> timedSpans,
      "plans" -> (if (traced) probe.planPhases else Nil),
      "checks" -> checks.map(c =>
        ListMap("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "error" -> error)
    Files.writeString(Path.of(opt("out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
