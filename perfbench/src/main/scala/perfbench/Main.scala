package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.tools.{PhaseTiming, RoutingMetrics, TempDirs}

/** One benchmark run of one workload in a fresh JVM:
  *
  *  1. a dispatch control (median latency of one-task jobs);
  *  2. `SetupReps` set-ups on freshly generated inputs; `setup_s` is their
  *     median and the last one's inputs are used from here on;
  *  3. one untimed warm-up operation of each kind, then the workload's
  *     count of untimed settle operations (whole periods), since the JIT
  *     keeps speeding the first operations up for many seconds;
  *  4. a closed loop of operations until `seconds` of operation time have
  *     passed and the workload is at the end of a period. A traced run
  *     traces half of the operations (ABBA, see below) and reports the
  *     per-layer view of those, and the tracing overhead against the
  *     untraced half;
  *  5. the post-loop checks and the closing dispatch control.
  *
  * The end-to-end metrics are scaled to a reference host speed by
  * `HostSpeed` samples taken before each set-up and each timed operation.
  * It writes one JSON artifact (`--out`) that `perfbench/run.py` turns into
  * the result line, plus the spans of a traced run beside it. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    Files.createDirectories(Paths.get(work))
    keepScratchUnder(s"$work/tmp")
    // half the machine's CPUs: the driver thread, the JIT compilers and the
    // collector keep CPUs of their own, and on a shared host fewer busy
    // vCPUs lose less time to the hypervisor (steal time rose tenfold and
    // more with all four vCPUs busy)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors / 2))
    val spark = session(work, cores)
    try {
      if (o.contains("selftest")) SelfTest.run(spark, o("seed").toLong, work, o("out"))
      else run(spark, cores, o("workload"), o("seed").toLong, o("seconds").toDouble,
        o("trace") == "1", work, o("out"))
    } finally {
      spark.stop()
      log("session stopped")
    }
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = graft.Tables.withEventsConf(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The library puts session scratch on /dev/shm when it can. The
    * benchmark keeps every file it causes inside its own work directory,
    * so it points that choice at `dir` before anything asks for it. */
  private def keepScratchUnder(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    try {
      val c = TempDirs.getClass
      val f = c.getDeclaredField("fastRoot")
      f.setAccessible(true)
      f.set(TempDirs, Some(Paths.get(dir)))
      val b = c.getDeclaredField("bitmap$0")
      b.setAccessible(true)
      b.setBoolean(TempDirs, true)
    } catch { case _: ReflectiveOperationException => () }
  }

  /** Median latency, in ms, of one-task jobs: the scheduler's dispatch floor
    * at this moment on this machine. */
  def dispatchMs(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    sc.parallelize(Seq(1), 1).count()
    val xs = (1 to 9).map { _ =>
      val t = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e6
    }.sorted
    xs(xs.size / 2)
  }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private val t0 = System.nanoTime()
  /** Progress on stderr, which run.py keeps in the run's jvm.log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def run(spark: SparkSession, cores: Int, name: String, seed: Long, seconds: Double,
          trace: Boolean, work: String, out: String): Unit = {
    log("session ready")
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, seed, tracer, cores)
    val dispatchOpen = dispatchMs(spark)
    val loadOpen = loadAvg
    val w = Workloads(name, ctx)
    PhaseTiming.drain()
    RoutingMetrics.drain()

    HostSpeed.warm()
    val hostMs = ArrayBuffer[Double]()
    val builds = ArrayBuffer[Double]()
    val reps = (1 to SetupReps).map { r =>
      hostMs += HostSpeed.sampleMs()
      val t = System.nanoTime()
      w.setup(s"$work/inputs/rep$r")
      val s = (System.nanoTime() - t) / 1e9
      builds ++= PhaseTiming.drain().collect { case (k, v) if k.endsWith(".build") => v }
      if (r > 1) TempDirs.deleteRecursively(s"$work/inputs/rep${r - 1}")
      log(f"set-up $r: $s%.2f s")
      s
    }
    val warmT = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - warmT) / 1e9
    log(f"warm-up: $warmS%.2f s")
    PhaseTiming.drain()
    RoutingMetrics.drain()

    val ops = ArrayBuffer[OpRec]()
    val settleErrors = ArrayBuffer[String]()
    var gcTraced = 0.0
    def runOp(i: Long, op: Op, traced: Boolean): OpRec = {
      val gc0 = gcSeconds
      if (traced) tracer.start()
      val t = System.nanoTime()
      val check: () => Option[String] =
        try tracer.op(i, s"bench.${op.kind}")(op.body())
        catch { case e: Exception => val m = s"${op.kind} $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"; () => Some(m) }
      val ns = System.nanoTime() - t
      if (traced) { tracer.stop(); gcTraced += gcSeconds - gc0 }
      val err = try check() catch { case e: Exception => Some(s"check of ${op.kind} $i threw $e") }
      OpRec(op.kind, ns, traced, err.isEmpty, err)
    }
    // untimed operations in whole periods until the JIT has settled
    var i = 0L
    var settleNs = 0L
    while (i < w.settleOps || i % w.period != 0) {
      HostSpeed.sampleMs()
      val o = runOp(i, w.op(i), traced = false)
      settleErrors ++= o.error
      settleNs += o.ns
      i += 1
    }
    log(f"settled: $i operations, ${settleNs / 1e9}%.2f s")
    heapPools.foreach(_.resetPeakUsage())
    // A traced run traces the operations of each kind in an ABBA pattern
    // (untraced, traced, traced, untraced, ...), so JIT drift cancels out of
    // the comparison of traced and untraced operations of the same kind; it
    // runs at least two whole periods, so each kind is seen both ways.
    val first = i
    val nth = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var busy = 0L
    while (busy < seconds * 1e9 || i % w.period != 0 || (trace && i - first < 2L * w.period)) {
      val op = w.op(i)
      val k = nth(op.kind)
      nth(op.kind) = k + 1
      hostMs += HostSpeed.sampleMs()
      ops += runOp(i, op, traced = trace && (k % 4 == 1 || k % 4 == 2))
      busy += ops.last.ns
      i += 1
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    log(s"timed loop done: ${ops.size} operations")
    val errors = ArrayBuffer[String]() ++ settleErrors ++ ops.flatMap(_.error)
    val verifyErrors = try w.verify() catch { case e: Exception => Seq(s"verify threw $e") }
    errors ++= verifyErrors
    log("verified")
    val dispatchClose = dispatchMs(spark)
    val loadClose = loadAvg

    val raw = Map(
      "setup_s" -> Stats.median(reps),
      "ops_per_s" -> ops.size / (ops.map(_.ns).sum / 1e9),
      "latency_p50_ms" -> Stats.kindMedian(ops.map(o => o.kind -> o.ns / 1e6).toSeq))
    // times scaled to the reference host speed (throughput inversely)
    val host = Stats.median(hostMs.toSeq)
    val scale = HostSpeed.ReferenceMs / host
    val e2e = raw.map { case (k, v) => k -> (if (k == "ops_per_s") v / scale else v * scale) }

    val layers = scala.collection.mutable.Map[String, Double]()
    layers ++= Map(
      "spark.dispatch_ms_open" -> dispatchOpen,
      "spark.dispatch_ms_close" -> dispatchClose,
      "env.host_ms" -> host,
      "env.nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "env.spark_cores" -> cores.toDouble,
      "env.jvm_major" -> Runtime.version.feature.toDouble,
      "env.loadavg_open" -> loadOpen,
      "env.loadavg_close" -> loadClose,
      "cache.builds" -> builds.size.toDouble / SetupReps,
      "cache.build_s" -> builds.sum / SetupReps,
      "setup.first_s" -> reps.head,
      "setup.warm_s" -> warmS)
    if (trace) {
      val traced = ops.filter(_.traced)
      val n = traced.size.toDouble
      val wallS = traced.map(_.ns).sum / 1e9
      val l = tracer.listener
      val jobBusyS = Tracer.busyMs(tracer.jobs) / 1e3
      // tracing overhead over the kinds seen both ways: traced time minus
      // what the same operations took untraced
      val meanS = ops.groupBy(o => (o.kind, o.traced)).map { case (k, xs) => k -> xs.map(_.ns / 1e9).sum / xs.size }
      val paired = traced.filter(o => meanS.contains((o.kind, false)))
      val untracedS = paired.map(o => meanS((o.kind, false))).sum
      val overheadS = paired.map(_.ns / 1e9).sum - untracedS
      val self = tracer.layerSelfSeconds
      layers ++= Map(
        "spark.jobs" -> tracer.jobs.size / n,
        "spark.stages" -> l.stages / n,
        "spark.tasks" -> l.tasks / n,
        "spark.job_busy_s" -> jobBusyS / n,
        "spark.driver_gap_s" -> (wallS - jobBusyS) / n,
        "spark.task_busy_s" -> l.taskRunMs / 1e3 / n,
        "spark.shuffle_write_bytes" -> l.shuffleWriteBytes / n,
        "spark.spill_bytes" -> l.spillBytes / n,
        "jvm.gc_s" -> gcTraced,
        "jvm.heap_peak_mb" -> heapPeakMb,
        "trace.ops" -> n,
        "trace.spans" -> tracer.spans.size.toDouble,
        "trace.wall_s" -> wallS,
        "trace.residue_s" -> (wallS - self.values.sum),
        "trace.overhead_s" -> overheadS,
        "trace.overhead_share" -> (if (untracedS > 0) overheadS / untracedS else 0.0))
      Tracer.Layers.foreach(layer => layers(s"self.${layer}_s") = self.getOrElse(layer, 0.0))
      layers ++= w.layers
      Files.writeString(Paths.get(out).resolveSibling(s"spans-$name.json"), tracer.spansJson)
    }

    // the DuckDB check in run.py reads these
    val oracleDir = s"$work/oracle"
    TempDirs.deleteRecursively(oracleDir)
    Files.createDirectories(Paths.get(oracleDir))
    val dumps = w.oracleDumps.map { case (q, (sql, rows)) =>
      val f = s"$oracleDir/$q.json"
      val cols = if (rows.isEmpty) Seq.empty[String] else rows.head.schema.fieldNames.toSeq
      Files.writeString(Paths.get(f), Json.render(Map("sql" -> sql, "columns" -> cols,
        "rows" -> rows.map(r => r.toSeq.map(Json.cell)).toSeq)))
      q -> f
    }

    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> ops.size,
      "failed" -> (ops.count(!_.ok) + settleErrors.size + verifyErrors.size),
      "errors" -> errors.take(20).toSeq,
      "kinds" -> ops.groupBy(_.kind).map { case (k, xs) => k -> xs.size },
      "e2e" -> e2e, "raw_e2e" -> raw, "host_ms" -> hostMs.toSeq, "layers" -> layers.toMap,
      "setup_reps_s" -> reps,
      "op_ms" -> ops.map(o => Seq(o.kind, o.ns / 1e6, o.traced)).toSeq,
      "env" -> Map("java" -> System.getProperty("java.version"),
        "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> cores,
        "spark" -> spark.version, "loadavg_open" -> loadOpen, "loadavg_close" -> loadClose,
        "dispatch_ms_open" -> dispatchOpen, "dispatch_ms_close" -> dispatchClose,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "inputs" -> w.inputs, "layer_prefixes" -> w.layerPrefixes.toSeq.sorted,
      "oracle" -> Map("tables" -> w.tables, "dumps" -> dumps))
    Files.writeString(Paths.get(out), Json.render(result))
    log("result written")
  }
}

/** A fixed piece of CPU work (xorshift steps and lookups in a 256 KiB
  * table). Its time measures how fast the shared host runs this
  * JVM at that moment, whatever the code under test does: samples are taken
  * between operations, never inside one. */
object HostSpeed {
  /** The sample time the end-to-end metrics are scaled to. */
  val ReferenceMs = 10.0
  private val table = Array.tabulate(1 << 16)(i => i * 0x9E3779B9)
  @volatile private var sink = 0

  /** Compiles the loop, so that the first samples time compiled code. */
  def warm(): Unit = (1 to 40).foreach(_ => sampleMs())

  def sampleMs(): Double = {
    val t = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var acc = 0
    var i = 0
    while (i < 3000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += table((x & 0xffffL).toInt)
      i += 1
    }
    sink += acc
    (System.nanoTime() - t) / 1e6
  }
}

/** Same seed, same bytes: each generator writes its inputs twice with one
  * seed and once with another, and the content digests must agree and
  * differ respectively. */
object SelfTest {
  def run(spark: SparkSession, seed: Long, work: String, out: String): Unit = {
    def gens(s: Long): Seq[(String, String => Unit)] = Seq(
      "etl_flow" -> { d: String =>
        val e = EtlSpec(s, 2000, 4, 0.3, 0.4, 0.2)
        e.write(spark, s"$d/a", setB = false); e.write(spark, s"$d/b", setB = true)
      },
      "olap_mix" -> { d: String => OlapSpec(s, 0.002).write(spark, d) },
      "state_mix" -> { d: String =>
        CorpusSpec(s, 100, 3, 0.04, 50).write(spark, s"$d/corpus")
        (1L to 2L).foreach(e => CdcSpec(s, 500, 400).batch(spark, e).write.parquet(s"$d/batch$e"))
      })
    val results = gens(seed).indices.map { k =>
      val name = gens(seed)(k)._1
      val digests = Seq(seed, seed, seed + 1).zipWithIndex.map { case (s, j) =>
        val d = s"$work/selftest/$name-$j"
        TempDirs.deleteRecursively(d)
        gens(s)(k)._2(d)
        val dg = Digest.of(d)
        TempDirs.deleteRecursively(d)
        dg
      }
      name -> Map("same_seed_identical" -> (digests(0) == digests(1)),
        "other_seed_differs" -> (digests(0) != digests(2)), "digest" -> digests(0))
    }
    Files.writeString(Paths.get(out), Json.render(results.toMap))
  }
}
