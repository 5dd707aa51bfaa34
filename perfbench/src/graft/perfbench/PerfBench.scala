package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{Row, SparkSession}

import graft.tools.{BenchSweep, GenSf}

/** The repo benchmark's JVM side: one closed-loop client (one thread,
  * `local[4]`) drives one workload's calls for a fixed time and writes
  * what it measured as JSON. `perfbench/run.py` builds this, runs it in a
  * fresh JVM, checks the outputs against the DuckDB oracles and prints
  * the metrics.
  *
  *   graft.perfbench.PerfBench --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --mult <gensf multiple> --pass-size <pages|ticks>
  *     --data <corpus cache dir> --work <scratch dir> --out <result.json>
  *
  * After the session starts, the seeded corpus is generated (or found in
  * the cache), the workload prepares its input and runs one untimed
  * warm-up pass. Timed passes then repeat until `--seconds` have passed
  * (at least one). Between passes, untimed, persisted blocks are dropped
  * and a full GC runs, so every pass starts from the same heap; after every
  * call a full GC, with the clock stopped, samples the live heap. With
  * `--trace 1` the second pass runs traced, under its own listeners, between
  * untraced ones: the per-layer counters are its counters, and the tracing
  * overhead is its time minus the median untraced pass, which averages the
  * passes before and after it and so cancels the JIT's pass-to-pass drift. */
object PerfBench {
  val Cores = 4
  /** A pass is robbed when other guests of the host took more than this
    * share of the machine's CPU time during it (`steal` in /proc/stat):
    * on a 4-core guest, passes with 1.6-6.7% steal ran 10-25% slower than
    * passes with at most 0.6%. A run whose passes were all robbed measures
    * more passes, up to [[MaxTimedS]] of timed work, and reports the ones
    * that were not. */
  val MaxSteal = 0.01
  val MaxTimedS = 30.0
  val Layers = Seq("text", "analytics", "dedup", "pipeline", "similarity",
    "streaming", Recorder.Untagged)

  private final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }
  private def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0 && a.grouped(2).forall(_.head.startsWith("--")),
      s"expected --key value pairs, got ${a.mkString(" ")}")
    new Args(a.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = args("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val mult = args("mult").toDouble
    val work = args("work")

    val spark = session(work)
    val sessionReadyS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val g0 = System.nanoTime()
    val corpus = Corpus.ensure(spark, args("data"), mult, seed)
    val genS = (System.nanoTime() - g0) / 1e9

    // Set-up is everything before the timed region except generating the
    // seeded corpus: session start, the workload's preparation and one
    // untimed warm-up pass.
    val runner = new Runner(spark)
    val w0 = System.nanoTime()
    val w = Workloads(workload,
      new Ctx(spark, corpus, s"$work/main", mult, args("pass-size").toInt))
    warmUp(runner, w)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionReadyS + warmS

    val stat0 = Host.stat()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val passes = mutable.ArrayBuffer.empty[PassRun]
    def robbed = passes.filter(!_.traced).forall(_.stealShare > MaxSteal)
    while (passes.isEmpty || elapsed < seconds || (trace && passes.size < 3) ||
      (robbed && elapsed < MaxTimedS)) {
      w.reset()
      runner.clean()
      passes += runner.pass(w.ctx, w.pass, traced = trace && passes.size == 1)
    }
    val timedS = elapsed
    val stat1 = Host.stat()

    // Output checks: every pass of a call must hash the same; the last
    // pass's results go to the oracle dump.
    val last = passes.last.results
    val hashes = last.map { case (k, r) => k -> Hash.rows(r.rows) }
    val mismatched = passes.flatMap(_.results).collect {
      case (k, r) if hashes.get(k).exists(_ != Hash.rows(r.rows)) => k
    }
    val extraFailures = w.verify(last)
    val dump = s"$work/oracle"
    val twins = passes.last.twins
    dumpForOracle(spark, dump, last, twins)

    val calls = passes.map(_.calls).sum
    val failedCalls = passes.map(_.failures.size).sum
    passes.flatMap(_.failures).take(3).foreach { e =>
      System.err.println(s"[perfbench] call failed: $e"); e.printStackTrace()
    }
    val (untraced, traced) = passes.partition(!_.traced)
    // Untraced passes the host did not rob, or all of them if it robbed each.
    val measured = untraced.filter(_.stealShare <= MaxSteal) match {
      case clean if clean.nonEmpty => clean
      case _ => untraced
    }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "mult" -> mult, "corpus" -> corpus,
      "gen_s" -> genS, "setup_s" -> setupS, "session_s" -> sessionReadyS,
      "warmup_s" -> warmS,
      "timed_s" -> timedS,
      "pass_s" -> measured.map(_.wallS), "step_s" -> measured.flatMap(_.stepS),
      "peak_heap_mb" -> measured.map(_.peakHeapMb),
      "pass_steal" -> passes.map(_.stealShare),
      "traced_pass_s" -> traced.map(_.wallS),
      "calls" -> calls, "failed_calls" -> failedCalls,
      "hash_mismatches" -> mismatched.size,
      "check_failures" -> extraFailures,
      "call_names" -> passes.last.names.distinct,
      "hashes" -> hashes,
      "passes" -> passes.size,
      "oracle_dir" -> dump,
      "twin_calls" -> passes.flatMap(_.runs).filter(_.call.twin.nonEmpty)
        .groupBy(_.call.twin).map { case (t, rs) => t -> rs.size },
      "host_jiffies" -> Seq("user", "system", "iowait", "steal").map(k =>
        k -> (stat1.getOrElse(k, 0L) - stat0.getOrElse(k, 0L))).toMap)
    w match {
      case inc: Incremental => report("sink_dir") = inc.sinkDir
      case _ =>
    }
    if (trace) {
      report("per_layer") = Trace.perLayer(traced.toSeq, Cores) ++ Map(
        "trace.overhead_s" -> (median(traced.map(_.wallS).toSeq) -
          median(measured.map(_.wallS).toSeq)))
      Trace.writeSpans(s"${args("trace-dir")}/trace-$workload-s$seed.json",
        workload, seed, traced.toSeq)
    }
    Files.writeString(Paths.get(args("out")), Json(report))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Prepares the workload and runs one untimed pass over its input. */
  def warmUp(runner: Runner, w: Workload): Unit = {
    w.prepare()
    w.reset()
    runner.pass(w.ctx, w.pass, traced = false).failures.headOption.foreach(throw _)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Writes each oracle-checked result as `<dir>/<twin>/` parquet plus
    * `oracle_sql.json`, the layout `tools/local_verify.py` reads. */
  private def dumpForOracle(spark: SparkSession, dir: String,
                            last: Map[String, Result], twins: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    twins.foreach { case (key, twin) =>
      last.get(key).foreach { r =>
        spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$twin")
      }
    }
    // SparkEntry.oracleSql for just these twins (the full map takes seconds).
    val raw = graft.EntriesDashboard.oracleSql ++ graft.EntriesGraph.oracleSql ++
      graft.EntriesDedup.oracleSql ++ graft.EntriesPipeline.oracleSql
    val sql = twins.values.toSeq.distinct
      .map(t => t -> graft.SqlMat.materializeShared(raw(t))).toMap
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json(sql))
  }
}

/** One call as run in a pass, with its span times (`nanoTime` ms). */
final case class CallRun(key: String, call: Call, group: String, startMs: Double,
                         buildEndMs: Double, endMs: Double, rows: Long)

final case class PassRun(traced: Boolean, wallS: Double, startMs: Double, endMs: Double,
                         stepS: Seq[Double], stepSpans: Seq[(Double, Double)],
                         runs: Seq[CallRun], results: Map[String, Result],
                         failures: Seq[Throwable], peakHeapMb: Double,
                         stealShare: Double, counters: Map[String, Counters]) {
  def calls: Int = runs.size + failures.size
  def names: Seq[String] = runs.map(r => s"${r.call.layer}:${r.call.name}")
  /** Result key per oracle-checked twin (the last call of each). */
  def twins: Map[String, String] =
    runs.filter(_.call.twin.nonEmpty).map(r => r.call.twin -> r.key).toMap
      .map { case (t, k) => k -> t }
}

/** Runs passes: sets a job group per call, times build and action from
  * outside, samples the heap, and attaches a fresh [[Recorder]] to traced
  * passes. */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var passNo = 0

  /** Untimed between passes: drop what the last pass left persisted and
    * collect the heap, as a fresh JVM would start. */
  def clean(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  private def nowMs: Double = System.nanoTime() / 1e6

  /** Heap still in use after a full collection: what the program holds,
    * free of when the collector happens to run. Sampled after every call
    * with the step's clock stopped. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def pass(ctx: Ctx, steps: Seq[Step], traced: Boolean): PassRun = {
    passNo += 1
    val rec = if (traced) {
      PerfBenchBus.drain(sc)
      val r = new Recorder
      sc.addSparkListener(r)
      spark.listenerManager.register(r)
      Some(r)
    } else None
    ctx.onStream = q => rec.foreach(_.alias(q.runId.toString, sc.getLocalProperty(
      Recorder.JobGroupKey)))
    val runs = mutable.ArrayBuffer.empty[CallRun]
    val results = mutable.Map.empty[String, Result]
    val failures = mutable.ArrayBuffer.empty[Throwable]
    val stepS = mutable.ArrayBuffer.empty[Double]
    val stepSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    var heapMb = 0.0
    val stat0 = Host.stat()
    val t0 = nowMs
    steps.zipWithIndex.foreach { case (step, si) =>
      step.land()
      val s0 = nowMs
      var pausedMs = 0.0
      step.calls.zipWithIndex.foreach { case (call, ci) =>
        val key = s"$si.$ci.${call.name}"
        val group = s"perfbench-$passNo-$key"
        sc.setJobGroup(group, call.name)
        val c0 = nowMs
        try {
          val action = call.build()
          val c1 = nowMs
          val out = action()
          val c2 = nowMs
          out.foreach(r => results(key) = r)
          runs += CallRun(key, call, group, c0, c1, c2, out.map(_.rows.length.toLong).getOrElse(0L))
        } catch {
          case e: Exception => failures += new RuntimeException(s"$key: $e", e)
        } finally sc.clearJobGroup()
        val g0 = nowMs
        heapMb = math.max(heapMb, liveHeapMb())
        pausedMs += nowMs - g0
      }
      val s1 = nowMs
      stepS += (s1 - s0 - pausedMs) / 1e3
      stepSpans += ((s0, s1))
    }
    val t1 = nowMs
    val stat1 = Host.stat()
    val counters = rec match {
      case Some(r) =>
        PerfBenchBus.drain(sc)
        sc.removeSparkListener(r)
        spark.listenerManager.unregister(r)
        r.byCall(runs.map(_.group).toSet)
      case None => Map.empty[String, Counters]
    }
    PassRun(traced, stepS.sum, t0, t1, stepS.toSeq, stepSpans.toSeq, runs.toSeq,
      results.toMap, failures.toSeq, heapMb, Host.stealShare(stat0, stat1), counters)
  }
}

/** Loads the classes every workload uses, for the class-data archive the
  * benchmark's JVMs start from (see perfbench/build.py):
  *
  *   graft.perfbench.Train <corpus cache dir> <scratch dir> <workload:mult:passSize>...
  */
object Train {
  /** args: corpus cache dir, scratch dir, then `workload:mult:passSize`
    * for each workload to warm up (over the seed-0 corpus). */
  def main(args: Array[String]): Unit = {
    val data +: work +: specs = args.toSeq
    val spark = PerfBench.session(work)
    val runner = new Runner(spark)
    specs.map(_.split(":")).foreach { case Array(name, mult, passSize) =>
      val corpus = Corpus.ensure(spark, data, mult.toDouble, 0L)
      PerfBench.warmUp(runner, Workloads(name,
        new Ctx(spark, corpus, s"$work/$name", mult.toDouble, passSize.toInt)))
    }
    spark.stop()
  }
}

/** Seeded corpora from [[GenSf.generate]], cached per (seed, multiple) and
  * checked against GenSf's `_gensf_seed` marker the way ScaleAudit does.
  * GenSf copies `region`/`nation` from a base directory; the benchmark
  * writes those two fixed TPC-H dimension tables itself. */
object Corpus {
  // Enough for ten seeds of every benchmarked workload, twice over.
  private val Keep = 40

  def ensure(spark: SparkSession, data: String, mult: Double, seed: Long): String = {
    val dir = Paths.get(data, s"m${mult}_s$seed")
    val marker = dir.resolve("_gensf_seed")
    val usable = Files.exists(dir.resolve("documents.parquet")) &&
      Files.exists(marker) && Files.readString(marker).trim == seed.toString
    if (!usable) {
      val dims = dimensions(spark, data)
      val tmp = Paths.get(data, s".tmp_m${mult}_s$seed")
      Fs.delete(tmp)
      GenSf.generate(spark, tmp.toString, mult, dims, seed)
      Files.writeString(tmp.resolve("_gensf_seed"), seed.toString)
      Fs.delete(dir)
      Files.move(tmp, dir)
      prune(Paths.get(data))
    }
    dir.toString
  }

  /** Keeps the most recently generated corpora only. */
  private def prune(data: java.nio.file.Path): Unit =
    Fs.list(data).filter(p => p.getFileName.toString.startsWith("m") && Files.isDirectory(p))
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis).drop(Keep).foreach(Fs.delete)

  private def dimensions(spark: SparkSession, data: String): String = {
    import spark.implicits._
    val dir = s"$data/dims"
    if (!Files.exists(Paths.get(dir, "nation.parquet", "_SUCCESS"))) {
      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
      Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
        "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
        "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
        "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
        "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
        "UNITED STATES" -> 1).zipWithIndex.map { case ((n, r), i) => (i, n, r) }
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    }
    dir
  }
}

/** Host CPU counters (/proc/stat jiffies, parsed by BenchSweep): they tell
  * a run slowed by other guests of the machine from a slower program. */
object Host {
  def stat(): Map[String, Long] = BenchSweep.parseProcStat(
    try Files.readString(Paths.get("/proc/stat")) catch { case _: Exception => "" })

  def stealShare(from: Map[String, Long], to: Map[String, Long]): Double = {
    val d = to.map { case (k, v) => k -> (v - from.getOrElse(k, 0L)) }
    if (d.values.sum > 0) d.getOrElse("steal", 0L).toDouble / d.values.sum else 0.0
  }
}

/** Order-insensitive content hash of collected rows. */
object Hash {
  def rows(rs: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** Minimal JSON writer for the report (strings, numbers, sequences, maps). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
