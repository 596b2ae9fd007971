package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** Runs one workload against graft in this process and writes its result.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <dir>
  * perfbench.Main --prime <dir>
  * }}}
  *
  * Untraced runs write `result.json` with the end-to-end metrics. Traced
  * runs alternate traced and untraced cycles (so the tracing overhead is an
  * interleaved same-process A/B) and also write `trace.jsonl`, which
  * `summarize.py` turns into the per-layer metrics. */
object Main {
  /** Measured cycles per run at least; more run while the timed seconds are
    * below `--seconds`. */
  val MinCycles = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("prime")) return prime(Paths.get(a("prime")).toAbsolutePath)
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val wdir = Paths.get(a("work")).toAbsolutePath.resolve(workload)
    Dirs.wipe(wdir)
    Files.createDirectories(wdir)
    val spark = session(wdir)
    try run(spark, workload, a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", wdir, Paths.get(a("out")).toAbsolutePath)
    finally spark.stop()
  }

  /** Runs every workload's set-up and one cycle, unmeasured, so that the
    * JVM loads the classes a run needs; the build archives them at exit
    * (class-data sharing) and every measured run maps that archive. */
  private def prime(work: Path): Unit = {
    Dirs.wipe(work)
    Files.createDirectories(work)
    val spark = session(work)
    try Workloads.names.foreach { name =>
      val w = Workloads.make(name, new Ctx(spark, 0L, work.resolve(name)))
      w.prepareInputs()
      w.setup()
      (0 until w.cycleLength).foreach(i => Loop.runOne(w.op(i), i, false, None))
    } finally spark.stop()
  }

  /** Seconds since the JVM started. */
  private def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def run(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, trace: Boolean, wdir: Path, out: Path): Unit = {
    val sessionS = sinceStart
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
    }
    val w = Workloads.make(workload, new Ctx(spark, seed, wdir.resolve("data")))
    val inputsS = timed(w.prepareInputs())._2
    val setupOnceS = timed(w.setup())._2
    // one untimed cycle runs every op kind cold: first codegen, footer
    // reads, JIT; its results still count as attempted and checked
    val (warm, warmS) = timed((0 until w.cycleLength).map(i => Loop.runOne(w.op(i), i, false, None)))
    // JVM start to the first measured op, without generating the inputs
    val setupS = sinceStart - inputsS
    val calib = timed(spark.range(50000000L).select(expr("bit_xor(xxhash64(id))")).head())._2

    val measured = new OpSource {
      val cycleLength = w.cycleLength
      def op(i: Int) = w.op(i + w.cycleLength)
    }
    Trace.active = tracer.orNull
    val (results, measuredS) = timed(Loop.run(measured, seconds, wallCapS = 4 * seconds + 30,
      MinCycles, traced = c => c % 2 == 0, tracer = tracer,
      counters = tracer.map(new LakehouseCounters(_, w.ctx))))
    Trace.active = null
    val finalErr = w.finalCheck()
    val heapMb = retainedHeapMb()
    // user bytes: the raw parquet the workload fed in
    val stored = Dirs.bytesUnder(w.ctx.lhParent).toDouble / w.ctx.rawBytes

    val all = warm ++ results
    val st = LatencyStats.of(if (trace) results.filterNot(_.traced) else results)
    val failed = all.count(!_.ok) + finalErr.size
    val attempted = all.size + finalErr.size
    (all.flatMap(_.error).map("op failed: " + _) ++ finalErr.map("final check: " + _))
      .take(20).foreach(e => System.err.println("[perfbench] " + e))

    def say(s: String): Unit = println("[perfbench] " + s)
    say(s"workload=$workload seed=$seed trace=${if (trace) 1 else 0}")
    say(f"setup_s=$setupS%.3f (session $sessionS%.3f s, set-up $setupOnceS%.3f s, " +
      f"warm-up cycle $warmS%.3f s; inputs $inputsS%.1f s not counted)")
    say(f"host.calib_s=$calib%.4f")
    say(f"measured $measuredS%.1f s wall")
    say(f"ops=${st.samples} attempted=$attempted failed=$failed " +
      f"failed_ops_frac=${failed.toDouble / attempted}%.4f")
    say(f"ops_per_s=${st.opsPerS}%.4f op_p50_s=${st.p50}%.4f (n=${st.samples}) " +
      f"op_p90_s=${st.p90}%.4f (${st.beyondP90} samples beyond)")
    say(f"stored_bytes_per_input_byte=$stored%.4f retained_heap_mb=$heapMb%.1f")
    val warmBy = warm.groupBy(_.kind)
    results.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      say(f"  $k%-16s p50 ${LatencyStats.of(rs).p50}%.3f s (n=${rs.count(_.ok)}), " +
        f"warm-up ${warmBy(k).flatMap(_.seconds).sum}%.3f s")
    }

    val metrics = Map(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (st.opsPerS, "1/s"),
      "op_p50_s" -> (st.p50, "s"),
      "op_p90_s" -> (st.p90, "s"),
      "stored_bytes_per_input_byte" -> (stored, "ratio"),
      "retained_heap_mb" -> (heapMb, "MB"))
    Files.createDirectories(out)
    Files.writeString(out.resolve("result.json"), Json.obj(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    )) + "\n")
    tracer.foreach(_.export(out.resolve("trace.jsonl"), Map(
      "workload" -> workload, "seed" -> seed, "calib_s" -> calib,
      "persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size,
      "ops" -> results.map(r => Map("op" -> r.index, "kind" -> r.kind,
        "traced" -> r.traced, "seconds" -> r.seconds.getOrElse(-1.0),
        "error" -> r.error.getOrElse(""))))
      ++ LakehouseState.endState(w.ctx.lh)))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(wdir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val local = wdir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", wdir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", wdir.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Per traced op, outside its timed window: the scan counters of the plans
  * it consumed, and the data files its commit added to the lakehouse. */
final class LakehouseCounters(tracer: Tracer, ctx: Ctx) {
  private var live = Map.empty[String, Long]
  def before(): Unit = live = LakehouseState.liveDataFiles(ctx.lh)
  def after(r: OpResult): Unit = {
    val now = LakehouseState.liveDataFiles(ctx.lh)
    val added = (now.keySet -- live.keySet).toSeq
    tracer.annotate(r.index, Consume.takeStats(ctx.lh) ++ Map(
      "files_added" -> added.size.toDouble, "bytes_added" -> added.map(now).sum.toDouble))
  }
}

object Workloads {
  val names = Seq("commit_churn", "curation")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "commit_churn" => new CommitChurn(ctx)
    case "curation" => new Curation(ctx)
  }
}
