package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Receives every timed op of a workload. */
trait OpSink {
  def op(name: String, module: String, ms: Double, ok: Boolean, work: Long): Unit
  def life(l: QueryLife): Unit = ()
}

/** One workload: rounds of a fixed set of ops. */
trait Workload {
  /** Untimed rounds before timing starts: the JIT keeps compiling
    * through the first pass, so one pass alone leaves a trend in the
    * first timed rounds. */
  def warmRounds: Int
  def runRound(sink: OpSink): Unit
  /** Output check run inside the JVM after the timed phase. */
  def check(): Seq[String]
  def close(): Unit
}

final case class OpRec(name: String, module: String, ms: Double, ok: Boolean, work: Long)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

/** Benchmark JVM. Sets up one workload, warms it up (dumping the
  * outputs the check reads), prints `PERFBENCH_READY`, runs whole
  * rounds until `--seconds` have passed and at least [[MinOps]] ops
  * were timed, and prints one
  * `PERFBENCH_RESULT {json}` line with every raw measurement.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <tables dir> --work <scratch dir> --cores <n>
  */
object Main {
  /** Fewest timed ops a run ends with: p75 then has 11 ops beyond it. */
  val MinOps = 44

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val cores = args("cores").toInt

    val spark = graft.core.GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sparkProbe = new SparkProbe
    val planProbe = new PlanProbe
    if (trace) Probes.register(spark, sparkProbe, planProbe)
    val streamProbe = new StreamProbe(detail = trace)
    spark.streams.addListener(streamProbe)

    val w: Workload = workload match {
      case "lake_ingest" => new LakeIngest(spark, seed, work)
      case "query_mix" => new QueryMix(spark, args("data"), seed)
      case "stream_gates" => new StreamMix(spark, args("data"), streamProbe,
        args("shards").toInt, args("warm-shards").toInt, s"$work/dump_timed")
      case other => sys.error(s"unknown workload $other")
    }
    // warm-up: untimed, counted in set-up
    val warm0 = System.nanoTime()
    w match {
      case g: GateWorkload => g.dump(s"$work/dump")
      case _ =>
    }
    val discard = new OpSink { def op(n: String, m: String, ms: Double, ok: Boolean, wk: Long): Unit = () }
    (0 until w.warmRounds).foreach(_ => w.runRound(discard))
    val warmS = (System.nanoTime() - warm0) / 1e9
    planProbe.clear()
    println("PERFBENCH_READY")
    System.out.flush()

    val ops = ArrayBuffer.empty[OpRec]
    val lives = ArrayBuffer.empty[QueryLife]
    val sink = new OpSink {
      def op(n: String, m: String, ms: Double, ok: Boolean, wk: Long): Unit = ops += OpRec(n, m, ms, ok, wk)
      override def life(l: QueryLife): Unit = lives += l
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val tmpFiles0 = if (trace) Files.walk(tmp.getPath).size else 0
    val lake0 = w match { case l: LakeIngest => (l.gets, l.pauseMs.get); case _ => (0L, 0L) }
    val gc0 = Probes.gcSeconds
    if (trace) sparkProbe.settle()
    val spark0 = sparkProbe.snapshot
    val roundSecs = ArrayBuffer.empty[Double]
    val tStart = System.nanoTime()
    // whole rounds for at least `seconds` and at least MinOps ops, so
    // every run has a real tail and the same share of failed ops
    while ((System.nanoTime() - tStart) / 1e9 < seconds || ops.size < MinOps) {
      val r0 = System.nanoTime()
      w.runRound(sink)
      roundSecs += (System.nanoTime() - r0) / 1e9
    }
    val timedSecs = (System.nanoTime() - tStart) / 1e9
    val gcSecs = Probes.gcSeconds - gc0
    val heapMb = Probes.liveHeapMb()
    val rounds = roundSecs.size

    val layers = ArrayBuffer.empty[(String, Double, String)]
    if (trace) {
      sparkProbe.settle()
      val d = sparkProbe.snapshot.map { case (k, v) => k -> (v - spark0(k)).toDouble }
      val n = ops.size.toDouble
      val opMs = ops.map(_.ms).sum
      def byModule(m: String) = Stats.median(ops.filter(_.module == m).map(_.ms).toSeq)
      def phase(p: String) = planProbe.phaseMs(p).sum / n
      layers ++= Seq(
        ("spark.jobs_per_op", d("jobs") / n, "count"),
        ("spark.stages_per_op", d("stages") / n, "count"),
        ("spark.tasks_per_op", d("tasks") / n, "count"),
        ("spark.shuffle_mb", d("shuffle_bytes") / 1e6 / n, "MB"),
        ("spark.scan_mb", d("scan_bytes") / 1e6 / n, "MB"),
        ("spark.task_s", d("task_ms") / 1000.0 / n, "s"),
        ("spark.idle_slot_share", 1.0 - d("task_ms") / (opMs * cores), "share"),
        ("plans.analysis_ms", phase("analysis"), "ms"),
        ("plans.optimization_ms", phase("optimization"), "ms"),
        ("plans.planning_ms", phase("planning"), "ms"),
        ("analytics.op_ms", byModule("analytics"), "ms"),
        ("ops.op_ms", byModule("ops"), "ms"),
        ("jvm.gc_s", gcSecs, "s"))
      w match {
        case l: LakeIngest =>
          layers ++= Seq(
            ("sources.http_calls", (l.gets - lake0._1).toDouble / rounds, "count"),
            ("sources.pause_ms", (l.pauseMs.get - lake0._2).toDouble / rounds, "ms"),
            ("sinks.write_ms", Stats.median(planProbe.actionMs("command")), "ms"),
            ("jobs.count_ms", Stats.median(planProbe.actionMs("count")), "ms"))
          layers ++= l.layerMetrics()
        case _ =>
      }
      if (lives.nonEmpty) {
        val ls = lives.toSeq
        def dur(k: String) = Stats.median(ls.map(_.duration(k).toDouble))
        layers ++= Seq(
          ("streaming.batches", ls.map(_.batches.get).sum.toDouble / rounds, "count"),
          ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
          ("streaming.add_batch_ms", dur("addBatch"), "ms"),
          ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
          ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
          ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
          ("streaming.restart_ms", Stats.median(ls.map(l => l.ms - l.duration("triggerExecution"))), "ms"),
          ("streaming.state_rows", Stats.mean(ls.map(_.stateRows.get.toDouble)), "count"),
          ("streaming.state_mb", Stats.mean(ls.map(_.stateBytes.get / 1e6)), "MB"),
          ("streaming.state_commit_ms", Stats.median(ls.map(_.stateCommitMs.get.toDouble)), "ms"),
          ("streaming.state_stores", Stats.mean(ls.map(_.stateStores.get.toDouble)), "count"),
          ("streaming.checkpoint_files", (Files.walk(tmp.getPath).size - tmpFiles0).toDouble / rounds, "count"))
      }
    }

    val errors = w.check()
    val sb = new StringBuilder("{")
    sb ++= s""""workload":${Json.str(workload)},"rounds":$rounds,"timed_s":${Json.num(timedSecs)},"""
    sb ++= s""""heap_live_mb":${Json.num(heapMb)},"gc_s":${Json.num(gcSecs)},"""
    sb ++= s""""session_s":${Json.num(sessionReadyS)},"warm_s":${Json.num(warmS)},"""
    sb ++= roundSecs.map(Json.num).mkString("\"round_s\":[", ",", "],")
    sb ++= ops.map(o => s"[${Json.str(o.name)},${Json.str(o.module)},${Json.num(o.ms)},${o.ok},${o.work}]")
      .mkString("\"ops\":[", ",", "],")
    sb ++= errors.map(Json.str).mkString("\"check_errors\":[", ",", "],")
    sb ++= layers.map { case (k, v, u) => s"${Json.str(k)}:[${Json.num(v)},${Json.str(u)}]" }
      .mkString("\"layers\":{", ",", "}")
    sb ++= "}"
    println("PERFBENCH_RESULT " + sb.result())
    System.out.flush()
    w.close()
    spark.stop()
  }
}
