package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.operators.Kernels

/** The benchmark's JVM side: one workload, closed loop, one driver
  * thread. Setup is session start plus untimed warm passes; timed
  * passes follow until `--seconds` have been spent in them. Results go
  * to the `--result` file as `key value` lines for `run.py`.
  *
  * Arguments (all `--key value`): workload, data, corpus, tallies, run-dir,
  * seconds, trace (0|1), expected (digest file), result, spans, and
  * record (a directory: record digests and dump outputs instead of
  * timing).
  */
object Main {
  val Cores = 4
  // One warm pass leaves the JIT and Spark's codegen cache cold enough
  // that the next three passes still speed up by 10-20%; after a second
  // warm pass the remaining drift is below the host's run-to-run noise.
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val result = mutable.LinkedHashMap.empty[String, String]

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$Cores]", Cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    result("session_start_s") = ((System.nanoTime() - t0) / 1e9).toString

    val ops = workload match {
      case "mr_corpus" => Workloads.mrOps(opt("corpus"), opt("tallies"), s"${opt("run-dir")}/out")
      case w =>
        val expected = opt.get("expected").toSeq
          .flatMap(f => Files.readAllLines(new File(f).toPath, UTF_8).asScala)
          .filter(_.nonEmpty).map { l => val Array(k, v) = l.split(" ", 2); k -> Digest.parse(v) }
          .toMap
        Workloads.queryNames(w).map(Workloads.queryOp(_, opt("data"), expected))
    }
    try opt.get("record") match {
      case Some(dir) => record(spark, workload, opt("data"), dir, result)
      case None => timed(spark, ops, opt, result)
    } finally {
      val w = new PrintWriter(opt("result"), "UTF-8")
      try result.foreach { case (k, v) => w.println(s"$k $v") } finally w.close()
      spark.stop()
    }
  }

  private def timed(spark: SparkSession, ops: Seq[Op], opt: Map[String, String],
      result: mutable.Map[String, String]): Unit = {
    val traced = opt.getOrElse("trace", "0") == "1"
    val tracer = if (traced) Some(new Tracer(spark, Cores)) else None
    var attempted = 0
    var failed = 0

    /** Runs one op; returns its build + action wall seconds. */
    def runOp(op: Op, withSpans: Boolean): Double = {
      var spent = 0.0
      val step = new Step {
        def spark: SparkSession = SparkSession.active
        private def timedPhase[T](kind: String)(f: => T): T = {
          val t = System.nanoTime()
          try tracer.filter(_ => withSpans).fold(f)(_.span(kind, op.name)(f))
          finally spent += (System.nanoTime() - t) / 1e9
        }
        def build[T](f: => T): T = timedPhase("build")(f)
        def action[T](f: => T): T = timedPhase("action")(f)
      }
      attempted += 1
      try {
        val check = tracer.filter(_ => withSpans).fold(op.body(step))(_.span("op", op.name)(op.body(step)))
        check().foreach { why => failed += 1; System.err.println(s"[perfbench] ${op.name} WRONG: $why") }
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] ${op.name} FAILED: $e")
      } finally {
        // the same hygiene Bench applies between queries, outside the timed window
        Kernels.retireCaches()
        System.gc()
      }
      System.err.println(f"[perfbench] ${op.name} $spent%.3fs")
      spent
    }

    def storeMarks(): Seq[(String, Double)] = Kernels.phaseDrain().filter(_._1.startsWith("store:"))

    def pass(i: Int, withSpans: Boolean): Double = {
      val run = () => ops.map(op => runOp(op, withSpans)).sum
      tracer.filter(_ => withSpans).fold(run())(_.span("pass", s"pass $i")(run()))
    }

    Kernels.phaseDrain()
    for (w <- 1 to WarmPasses) pass(-w, withSpans = false)
    val setupStores = storeMarks()
    setupStores.foreach { case (tag, s) => System.err.println(f"[perfbench] setup $tag $s%.3fs") }
    // the moment the first timed pass can start, as wall-clock epoch time
    result("setup_end_epoch_s") = (System.currentTimeMillis() / 1e3).toString

    val budget = opt("seconds").toDouble
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[Double]
    val passStores = mutable.ArrayBuffer.empty[(String, Double)]
    var spent = 0.0
    var i = 1
    // Untraced runs round the pass count up to an odd number, so the
    // median is one measured pass: the first timed pass still runs ~10%
    // slower, and a two-pass median averaged it in. Traced runs
    // alternate untraced and traced passes, so the same run measures the
    // tracing overhead; listeners are attached only around traced passes.
    def more = spent < budget ||
      (if (traced) plain.isEmpty || withTrace.isEmpty else plain.size % 2 == 0)
    while (more) {
      val withSpans = traced && i % 2 == 0
      tracer.filter(_ => withSpans).foreach(_.attach())
      val dt = pass(i, withSpans)
      tracer.filter(_ => withSpans).foreach(_.detach())
      (if (withSpans) withTrace else plain) += dt
      val marks = storeMarks()
      marks.foreach { case (tag, s) =>
        System.err.println(f"[perfbench] store build during timed pass $i: $tag $s%.3fs")
      }
      passStores ++= marks
      spent += dt
      i += 1
    }

    Kernels.retireCaches()
    System.gc(); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    result("attempted") = attempted.toString
    result("failed") = failed.toString
    result("passes") = plain.size.toString
    result("pass_s") = Tracer.median(plain.toSeq).toString
    result("pass_s_all") = plain.map(d => f"$d%.3f").mkString(",")
    result("retained_heap_mb") = (heap / Tracer.MiB).toString
    result("in_pass_store_builds") = passStores.size.toString
    tracer.foreach { t =>
      val all = t.allSpans()
      opt.get("spans").foreach(t.writeSpans(all, _))
      val layers = t.metrics(all) ++ Map(
        "session.start_s" -> result("session_start_s").toDouble,
        "kernels.setup_store_build_s" -> setupStores.map(_._2).sum,
        "kernels.setup_stores_built" -> setupStores.size.toDouble,
        "kernels.store_build_s" -> passStores.map(_._2).sum / (i - 1),
        "kernels.stores_built" -> passStores.size.toDouble / (i - 1),
        "kernels.store_disk_mb" -> storeDiskBytes() / Tracer.MiB,
        "trace.passes" -> withTrace.size.toDouble,
        "trace.overhead_share" -> (Tracer.median(withTrace.toSeq) / Tracer.median(plain.toSeq) - 1))
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => result(s"layer.$k") = v.toString }
    }
  }

  /** Bytes on disk of the durable stores this process registered: they
    * live under the run-private java.io.tmpdir with a `-p<pid>` suffix.
    */
  private def storeDiskBytes(): Double = {
    val suffix = s"-p${ProcessHandle.current().pid()}"
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(suffix)).map(size).sum.toDouble
  }

  /** Record mode: dump each query's output as parquet (the layout
    * tools/verify_local.py reads), digest what was written, and write
    * the oracle SQL beside it.
    */
  private def record(spark: SparkSession, workload: String, data: String, dir: String,
      result: mutable.Map[String, String]): Unit = {
    val names = Workloads.queryNames(workload)
    require(names.nonEmpty, s"$workload has no recorded digests")
    names.foreach { name =>
      SparkEntry.queries(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$name")
      Kernels.retireCaches()
      result(s"digest.$name") = Digest.of(spark.read.parquet(s"$dir/$name")).toString
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(new File(s"$dir/oracle_sql.json").toPath, json)
  }
}
