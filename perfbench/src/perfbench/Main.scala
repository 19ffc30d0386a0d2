package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.{Counters, Probe}
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload several times, run its operation
  * in a closed loop with one client for `--seconds`, check its outputs,
  * and print one JSON result as the last line of stdout.
  *
  * {{{
  * Main --workload kg_corpus --seed 1 --seconds 10 --trace 0 \
  *      --work .bench_work/run1 --out .bench_out
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` runs the same
  * loop with one span per layer call and reports the per-layer metrics.
  * `--selftest` runs every workload at a tiny scale and shows that the
  * output checks flag perturbed outputs. */
object Main {

  val SetupReps = 2

  final case class Args(workload: String = "", seed: Long = 1,
                        seconds: Double = 10, trace: Boolean = false,
                        work: String = ".bench_work/run",
                        out: String = ".bench_out", scale: Double = 1.0,
                        selftest: Boolean = false, archive: Boolean = false,
                        build: String = "unstamped")

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--scale" :: v :: t => parse(t, acc.copy(scale = v.toDouble))
    case "--selftest" :: t => parse(t, acc.copy(selftest = true))
    case "--archive" :: t => parse(t, acc.copy(archive = true))
    case "--build" :: v :: t => parse(t, acc.copy(build = v))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv.toList)
    if (args.selftest) sys.exit(SelfTest.run(args))
    if (args.archive) { loadClasses(args); return }
    require(Workload.All.contains(args.workload),
      s"--workload must be one of ${Workload.All.mkString(", ")}")
    val result = run(args)
    println(Json(result))
    System.out.flush()
  }

  /** Runs every workload once at a tiny scale and exits: the build runs
    * this under -XX:ArchiveClassesAtExit, so later runs start from a
    * class-data archive instead of loading Spark's classes from jars. */
  private def loadClasses(args: Args): Unit = {
    val spark = session(args.work, cores)
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try Workload.All.foreach { name =>
      val w = Workload(name, spark, probe, s"${args.work}/$name", 1, 0.02)
      try { w.setup(0); w.op() } finally w.close()
    } finally spark.stop()
  }

  def session(work: String, cores: Int): SparkSession = {
    val abs = new File(work).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$abs/warehouse")
      .config("spark.local.dir", s"$abs/local")
      // standing-state deployment setting (see CcStream.writeCcBase)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$abs/checkpoints")
    s
  }

  /** Progress line on stderr (the run's log), stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Contention record: load average and a fixed CPU-only loop timing. */
  def contention(): Map[String, Any] = {
    val load = scala.util.Try(new String(Files.readAllBytes(
      Paths.get("/proc/loadavg"))).trim).getOrElse("")
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + i; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42) println(x)
    Map("loadavg" -> load, "control_s" -> s)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and its
    * value (nearest rank), or None when there are fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    if (s.size < 11) None
    else {
      val pct = ((s.size - 10) * 100) / s.size
      val rank = math.max(1, math.ceil(pct / 100.0 * s.size).toInt)
      Some((pct, s(rank - 1)))
    }
  }

  def run(args: Args, inspect: Workload => Unit = _ => ()): Map[String, Any] = {
    val c0 = contention()
    val t0 = System.nanoTime()
    val spark = session(args.work, cores)
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = Workload(args.workload, spark, probe, args.work, args.seed,
      args.scale)
    try {
      val setups = (0 until SetupReps).map { rep =>
        probe.current = s"setup:$rep"
        log(s"setup $rep")
        val s0 = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - s0) / 1e9
      }
      // the warm-up is one untimed operation; where the workload's checks
      // run a whole operation themselves, they are that warm-up
      def runChecks(): Seq[(String, Boolean)] = {
        probe.current = "check"
        try w.checks(args.trace) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] output check crashed: $e")
            Seq("checks_ran" -> false)
        }
      }
      probe.current = "warmup"
      log("warm-up")
      val w0 = System.nanoTime()
      val early = if (w.checksWarmUp) runChecks() else { w.warm(); Nil }
      val warmS = (System.nanoTime() - w0) / 1e9
      cleanup(spark, Set.empty)

      val tracer =
        if (args.trace) Some(new Tracer(spark, probe, s"${w.name}-${args.seed}"))
        else None
      probe.resetPeak()
      val walls = mutable.ArrayBuffer.empty[Double]
      val cpus = mutable.ArrayBuffer.empty[Double]
      val shuffles = mutable.ArrayBuffer.empty[Double]
      val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
      var failed = 0L
      val loop0 = System.nanoTime()
      def elapsed = (System.nanoTime() - loop0) / 1e9
      var i = 0
      // operations run back to back while the next one, taking as long as
      // the last, still ends inside the window (at least one runs)
      var last = 0.0
      while (i == 0 || elapsed + last <= args.seconds) {
        val bucket = s"op:$i"
        log(s"operation $i")
        probe.current = bucket
        val before = sc.getPersistentRDDs.keySet.toSet
        val prefix = if (args.trace) "span:" else bucket
        def total(f: Counters => Long) = probe.buckets(prefix).map(b => f(b._2)).sum
        val (cpu0, sh0) = (total(_.cpuNs), total(_.shuffleWriteBytes))
        val o0 = System.nanoTime()
        val ph = try {
          tracer match {
            case Some(t) =>
              val r = t.span(w.name)(w.opTraced(t))
              t.releaseFeeds()
              r
            case None => w.op()
          }
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] operation $i failed: $e")
            Map.empty[String, Double]
        }
        last = (System.nanoTime() - o0) / 1e9
        walls += last
        probe.current = "idle"
        probe.drain()
        cpus += (total(_.cpuNs) - cpu0) / 1e9
        shuffles += (total(_.shuffleWriteBytes) - sh0).toDouble
        phases += ph
        cleanup(spark, before)
        i += 1
      }
      val loopS = elapsed
      log("loop done")
      val peakMb = probe.peakBytes / 1048576.0

      val checks = if (w.checksWarmUp) early else runChecks()
      val digestOk = digestCheck(args, w, w.digest()._2)
      val allChecks = checks :+ ("same_seed_digest" -> digestOk)
      allChecks.filterNot(_._2).foreach(c =>
        System.err.println(s"[perfbench] check failed: ${c._1}"))
      val attempted = i.toLong + allChecks.size
      val failedAll = failed + allChecks.count(!_._2)

      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> w.name, "seed" -> args.seed, "trace" -> args.trace,
        "seconds" -> args.seconds, "cores" -> cores,
        "session_start_s" -> sessionS, "setup_reps_s" -> setups,
        "warmup_s" -> warmS, "ops" -> i, "loop_s" -> loopS,
        "op_wall_s" -> walls, "op_cpu_s" -> cpus,
        "op_shuffle_bytes" -> shuffles, "op_phases" -> phases,
        "peak_storage_mb" -> peakMb,
        "storage_memory_mb" -> sc.getExecutorMemoryStatus.values
          .map(_._1).sum / 1048576.0,
        "input" -> w.inputProps, "why" -> w.why,
        "checks" -> allChecks.toMap,
        "failed_frac" -> failedAll.toDouble / attempted,
        "contention_before" -> c0)
      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) Seq(
          ("setup_s", median(setups), "s"),
          ("run_s", median(walls.toSeq), "s"),
          ("cpu_s", median(cpus.toSeq), "s"),
          ("shuffle_bytes", median(shuffles.toSeq), "bytes"),
          ("peak_storage_mb", peakMb, "MB"))
        else Layers.metrics(tracer.get, probe, w, i)
      w.details(phases.toSeq, loopS).foreach { case (k, v) => detail(k) = v }
      tracer.foreach(t => detail("spans") = t.report)
      detail("metrics") = metrics.map(m => m._1 -> m._2).toMap
      detail("contention_after") = contention()
      writeDetail(args, detail.toMap)
      for ((k, v) <- detail if !Set("spans", "op_phases", "metrics")(k))
        println(s"# $k: ${Json(v)}")
      metrics.foreach { case (n, v, u) => println(f"# metric $n%s = $v%.6g $u%s") }
      inspect(w)
      Map(
        "correct" -> (failedAll == 0),
        "attempted" -> attempted,
        "failed" -> failedAll,
        "metrics" -> metrics.map { case (n, v, u) =>
          n -> Map("value" -> v, "unit" -> u) }.toMap)
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Drop whatever an operation left persisted, outside the timed span,
    * so one operation's blocks do not land in the next one's numbers. */
  def cleanup(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!keep(id)) r.unpersist(blocking = true)
    }
    spark.catalog.clearCache()
  }

  private def writeDetail(args: Args, d: Map[String, Any]): Unit = {
    val dir = new File(args.out)
    dir.mkdirs()
    val f = new File(dir,
      s"${args.workload}_seed${args.seed}_trace${if (args.trace) 1 else 0}.json")
    Files.write(f.toPath, Json(d).getBytes("UTF-8"))
  }

  /** Same build, same seed, same outputs: the first run of a seed under
    * a build (`--build`, the hash of every source file) records `digest`
    * of its outputs, and every later run of that seed under the same
    * build must reproduce it. Another build starts its own record, so a
    * change that moves results compares only against itself. */
  def digestCheck(args: Args, w: Workload, digest: String): Boolean = {
    val dir = new File(args.out, s"digests/${args.build}")
    dir.mkdirs()
    val inputs = Workload.sha(Seq(Json(w.inputProps))).take(12)
    val f = new File(dir, s"${w.name}_seed${args.seed}_scale${args.scale}_" +
      s"${inputs}_${w.digest()._1}.txt")
    if (f.exists()) new String(Files.readAllBytes(f.toPath)).trim == digest
    else { Files.write(f.toPath, digest.getBytes("UTF-8")); true }
  }
}

/** Minimal JSON rendering for the result line and the detail file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case (a, b) => apply(Seq(a, b))
    case x => apply(x.toString)
  }
}
