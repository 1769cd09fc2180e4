package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{CdcUpsert, Dedup, EtlPipeline, TextAnalysis}
import graft.tools.{PhaseTiming, RoutingMetrics}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median of (kind, value) samples after each value is replaced by the
    * median of its kind. Over a mix of kinds with different costs this
    * stays with one kind's typical value: a plain median moves to another
    * kind whenever a few samples are slowed by a stall of the machine. */
  def kindMedian(xs: Seq[(String, Double)]): Double = {
    val byKind = xs.groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
    median(xs.map(x => byKind(x._1)))
  }
}

/** What every workload shares: the session, the seed, the tracer and the
  * number of Spark cores. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
                val cores: Int) {
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
}

/** One timed operation's record. `ok` is decided after the clock stops. */
final case class OpRec(kind: String, ns: Long, traced: Boolean,
                       ok: Boolean, error: Option[String])

/** The timed body of an operation returns the check to run once the clock
  * has stopped: `None` means the output was right, `Some(why)` that it was
  * wrong. */
final case class Op(kind: String, body: () => (() => Option[String]))

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def span[T](name: String)(f: => T): T = ctx.span(name)(f)

  /** One set-up repetition: generate the seeded inputs under `root` and
    * build the state and caches the operations read. The last
    * repetition's inputs are the ones the timed loop uses. */
  def setup(root: String): Unit
  /** One untimed operation of each kind after the last set-up, so that
    * JIT and whole-stage codegen are warm before timing starts. */
  def warm(): Unit
  def op(i: Long): Op
  /** Operations per period: the timed loop stops only after whole
    * periods, so every run measures the same mix of operations. */
  def period: Int = 1
  /** Untimed operations after the warm-up (rounded up to whole periods).
    * A count, not a time: on a slow window a time would settle the JIT
    * less, which made slow windows slower still. */
  def settleOps: Int = 0
  /** Checks made once after the timed loop; each entry is a failure. */
  def verify(): Seq[String] = Nil
  /** Rows for the DuckDB comparison: name → (SQL, collected rows). */
  def oracleDumps: Map[String, (String, Array[Row])] = Map.empty
  def tables: String = ""
  /** Per-layer metrics of the traced operations. */
  def layers: Map[String, Double]
  /** Metric prefixes this workload reports; the other workloads' per-layer
    * metrics read 0 on it. */
  def layerPrefixes: Set[String]
  def inputs: Map[String, Any]

  /** Runs independent set-up or warm-up steps concurrently (never timed
    * operations, which stay one at a time). */
  protected def concurrently(steps: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(steps.size, ctx.cores))
    try steps.map(f => pool.submit(new Runnable { def run(): Unit = f() })).foreach(_.get())
    finally pool.shutdown()
  }

  protected def median(xs: Seq[Double]): Double = Stats.median(xs)
  protected def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  protected def spanSeconds(prefix: String): Seq[Double] =
    ctx.tracer.spans.filter(_.name == prefix).map(_.durNs / 1e9).toSeq
  protected def jobsPer(prefix: String): Double = {
    val n = ctx.tracer.spans.count(_.name == prefix)
    if (n == 0) 0.0 else ctx.tracer.jobsUnder(_ == prefix).size.toDouble / n
  }
}

// =====================================================================
// etl_flow
// =====================================================================

/** The reference's only flow at a generated scale: a paged scan of both
  * page sets with location decode (the scrape), union + dedup + geocoding
  * with retry (combineAndEnrich), and the chunked JDBC load into embedded
  * Derby. Each step is materialized before the next, as the reference's
  * steps hand whole frames to each other. */
final class EtlFlow(c: Ctx) extends Workload(c) {
  val spec = EtlSpec(ctx.seed, rowsPerSet = 10000, pagesPerSet = 8,
    overlapShare = 0.3, missingShare = 0.4, geocodeFailShare = 0.2)
  private val calls = spark.sparkContext.longAccumulator("geocode_calls")
  private val retries = spark.sparkContext.longAccumulator("geocode_retries")
  private var root = ""
  private var url = ""
  private val writeS = ArrayBuffer[Double]()
  private var pages = 0
  /** (rows scanned, rows kept, geocoder calls, retries) of each traced flow. */
  private val traced = ArrayBuffer[(Long, Long, Long, Long)]()
  // expected outcome, from the generator alone
  private lazy val ids = spec.distinctIds
  private lazy val needGeocode = ids.count(spec.missing)
  private lazy val failing = ids.count(id => spec.missing(id) && spec.failsFirst(address(spec.row(id))))
  private lazy val expectedChecksum = ids.iterator.map { id =>
    val r = spec.row(id)
    Seq(r.direccion, r.localidad, r.rubro, expectedLocation(id)).mkString("\u0001").hashCode.toLong
  }.sum

  private def address(r: PageRow) = s"${r.direccion}, ${r.localidad}, ARGENTINA"
  private def expectedLocation(id: Long): String = {
    val r = spec.row(id)
    if (spec.missing(id)) spec.coords(address(r)) else r.localizar.stripPrefix("javascript:mapa(").stripSuffix(")")
  }

  /** Writes both page sets and creates a fresh in-memory Derby database
    * (in memory so that disk syncs do not add noise to the load step). */
  def setup(r: String): Unit = {
    if (root.nonEmpty) dropDerby()
    root = r
    writeS += timed { spec.write(spark, s"$root/a", setB = false) }
    writeS += timed { spec.write(spark, s"$root/b", setB = true) }
    pages = Seq("a", "b").map(d => graft.sources.PagedTableSource.pageFiles(s"$root/$d").size).sum
    url = s"jdbc:derby:memory:$db;create=true"
    java.sql.DriverManager.getConnection(url).close()
  }

  private def db = "perfbench_" + root.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)

  def warm(): Unit = run().apply().foreach(e => throw new IllegalStateException(e))

  private def dropDerby(): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: java.sql.SQLException => () }

  private def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  private def scan(dir: String): DataFrame =
    spark.read.format("graft.sources.PagedTableSource")
      .option("decodeLocation", "localizar").load(dir)

  private def run(): () => Option[String] = {
    val (c0, r0) = (calls.value.longValue, retries.value.longValue)
    val (a, b, scanned) = span("sources.scan") {
      val a = scan(s"$root/a").persist()
      val b = scan(s"$root/b").persist()
      (a, b, a.unionByName(b).count())
    }
    val (combined, rowsOut) = span("etl.combine") {
      val df = EtlPipeline.combineAndEnrich(a, b, new BenchGeocoder(spec, calls, retries), spark).persist()
      (df, df.count())
    }
    span("etl.load") {
      EtlPipeline.writeJdbc(combined, url, "shops", batchSize = 500, numPartitions = ctx.cores)
    }
    Seq(a, b, combined).foreach(_.unpersist(blocking = true))
    val got = (scanned, rowsOut, calls.value.longValue - c0, retries.value.longValue - r0)
    if (ctx.tracer.on) traced += got
    () => {
      val want = (2L * spec.rowsPerSet, ids.size.toLong, needGeocode.toLong + failing, failing.toLong)
      if (got == want) None else Some(s"etl flow (rows_in, rows_out, geocode calls, retries) = $got, want $want")
    }
  }

  def op(i: Long): Op = Op("flow", () => run())
  /** A flow alone went from ~1.4 s to ~0.7 s over its first ~15 flows;
    * timed from the fourth on, its median followed the JIT rather than the
    * code. Six more, with the state operations run next to them, settle
    * most of the way without a run getting too long for the time budget. */
  override def settleOps: Int = 6

  /** Reads the loaded table back over plain JDBC and compares it with the
    * rows the generator says the flow must produce. */
  override def verify(): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT \"direccion\", \"localidad\", \"rubro\", \"localizar\" FROM shops")
      var n = 0L
      var sum = 0L
      while (rs.next()) {
        n += 1
        sum += (1 to 4).map(rs.getString).mkString("\u0001").hashCode.toLong
      }
      if (n == ids.size && sum == expectedChecksum) Nil
      else Seq(s"derby read-back: $n rows (checksum $sum), want ${ids.size} rows (checksum $expectedChecksum)")
    } finally {
      conn.close()
      dropDerby()
    }
  }

  def layers: Map[String, Double] = Map(
    "sources.write_s" -> median(writeS.toSeq),
    "sources.scan_s" -> median(spanSeconds("sources.scan")),
    "sources.pages" -> pages.toDouble,
    "sources.rows_scanned" -> median(traced.map(_._1.toDouble).toSeq),
    "etl.combine_s" -> median(spanSeconds("etl.combine")),
    "etl.load_s" -> median(spanSeconds("etl.load")),
    "etl.rows_in" -> median(traced.map(_._1.toDouble).toSeq),
    "etl.rows_out" -> median(traced.map(_._2.toDouble).toSeq),
    "etl.geocode_calls" -> median(traced.map(_._3.toDouble).toSeq),
    "etl.geocode_retries" -> median(traced.map(_._4.toDouble).toSeq),
    // rows that needed a coordinate after dedup, per geocoder call made
    "etl.geocode_useful_ratio" -> mean(traced.map(t => needGeocode.toDouble / t._3).toSeq))

  def layerPrefixes: Set[String] = Set("sources", "etl")

  def inputs: Map[String, Any] = Map("rows_per_page_set" -> spec.rowsPerSet,
    "pages_per_set" -> spec.pagesPerSet, "overlap_share" -> spec.overlapShare,
    "missing_location_share" -> spec.missingShare,
    "geocode_first_attempt_fail_share" -> spec.geocodeFailShare)
}

// =====================================================================
// olap_mix
// =====================================================================

/** Read-only, oracled queries of Relational, Relational2 and Analytics
  * over generated star-schema fixtures, in a seeded order. One operation
  * is one query: the query function call (which may run eager staging
  * jobs) plus collecting its result. */
final class OlapMix(c: Ctx) extends Workload(c) {
  val spec = OlapSpec(ctx.seed, sf = 0.01)
  private val entries: Seq[(String, String)] = OlapMix.Queries
  private val fns = graft.SparkEntry.queries
  private var dir = ""
  private val reference = scala.collection.mutable.Map[String, Array[Row]]()
  private val order: IndexedSeq[(String, String)] = {
    val r = new scala.util.Random(ctx.seed)
    r.shuffle(entries).toIndexedSeq
  }

  def setup(root: String): Unit = {
    dir = s"$root/fixtures"
    spec.write(spark, dir)
  }

  /** One concurrent pass over the queries: the first run of each query
    * gives the rows later runs must repeat and the DuckDB oracle is
    * compared with. */
  def warm(): Unit = {
    reference.clear()
    val rows = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
    concurrently(entries.map { case (_, q) => () => { rows.put(q, fns(q)(spark, dir).collect()); () } }: _*)
    entries.foreach { case (_, q) => reference(q) = rows.get(q) }
  }

  /** A period is one pass over the query list. Untimed sequential passes
    * settle the JIT: a pass went from ~5.5 s to a steady ~4 s over the
    * first three to four passes, and with one settling pass the timed
    * passes still sped up, so the median moved with how many passes a run
    * timed. */
  override def period: Int = order.size
  override def settleOps: Int = 3 * period

  def op(i: Long): Op = {
    val (module, q) = order((i % order.size).toInt)
    Op(q, () => {
      val df = span(s"olap.build.$module") { fns(q)(spark, dir) }
      val rows = span(s"olap.action.$module") { df.collect() }
      () => if (rows.sameElements(reference(q))) None else Some(s"$q: result differs from its first run")
    })
  }

  override def oracleDumps: Map[String, (String, Array[Row])] = {
    val sql = graft.SparkEntry.oracleSql
    entries.map { case (_, q) => q -> (sql(q), reference(q)) }.toMap
  }
  override def tables: String = dir

  def layers: Map[String, Double] = {
    val spans = ctx.tracer.spans
    def per(module: String) = {
      val opIds = spans.filter(s => s.name.startsWith("olap.") && s.name.endsWith("." + module)).map(_.op).toSet
      val opSpans = spans.filter(s => s.parent < 0 && opIds(s.op))
      val secs = mean(opSpans.map(_.durNs / 1e9).toSeq)
      val jobs = if (opSpans.isEmpty) 0.0
        else ctx.tracer.jobsUnder(n => n.endsWith("." + module)).size.toDouble / opSpans.size
      (secs, jobs)
    }
    val m = Seq("relational", "relational2", "analytics").flatMap { mod =>
      val (s, j) = per(mod)
      Seq(s"olap.${mod}_s" -> s, s"olap.${mod}_jobs" -> j)
    }.toMap
    m ++ Map(
      "olap.build_s" -> mean(spans.filter(_.name.startsWith("olap.build.")).map(_.durNs / 1e9).toSeq),
      "olap.action_s" -> mean(spans.filter(_.name.startsWith("olap.action.")).map(_.durNs / 1e9).toSeq))
  }

  def layerPrefixes: Set[String] = Set("olap")

  def inputs: Map[String, Any] = Map("scale_factor" -> spec.sf,
    "rows" -> spec.rowCounts, "queries" -> entries.map(_._2))
}

object OlapMix {
  /** (module, query). Chosen from the read-only oracled queries of the
    * three modules; streaming, CDC, sink and round-trip queries are left
    * out, since they write state or files rather than answer a read. */
  val Queries: Seq[(String, String)] =
    Seq("q1_pricing_summary", "q4_join_nation").map("relational" -> _) ++
    Seq("q55_grouping_sets", "q83_recursive").map("relational2" -> _) ++
    Seq("q74_bloom_semi_join", "q88_quantile_bound").map("analytics" -> _)
}

// =====================================================================
// state_mix
// =====================================================================

/** Writes beside reads on the library's persisted state. One period is
  * `maxDeltas` epochs, each a seeded CDC change batch applied with the
  * Partitioned layout followed by `lookupsPerEpoch` point lookups (the
  * period's last apply is the one that compacts), then a MinHash refresh
  * of the corpus delta against the cached history band index and a full
  * MinHash rebuild of the same corpus. The loop stops only on whole
  * periods, so every run pays the same share of compaction and rebuild. */
final class StateMix(c: Ctx) extends Workload(c) {
  val cdc = CdcSpec(ctx.seed, users = 10000, batchEvents = 4000)
  val policy = CdcUpsert.Partitioned(numPartitions = 4, maxDeltas = 3)
  val lookupsPerEpoch = 3
  val corpus = CorpusSpec(ctx.seed, baseDocs = 100, replicas = 4, perturbShare = 0.04, deltaDocs = 50)
  /** Epochs applied by each set-up; the warm-up applies one more, which
    * completes the first compaction period. */
  val setupEpochs: Long = policy.maxDeltas - 1L
  private val perEpoch = 1 + lookupsPerEpoch
  override val period: Int = policy.maxDeltas * perEpoch + 2
  /** A period went from ~7.9 s to ~6.9 s to ~6 s over its first runs, and
    * the lookups from ~240 ms to ~180 ms. */
  override def settleOps: Int = period
  private var root = ""
  private def state = s"$root/state"
  private def docs = s"$root/corpus"
  private var epoch = 0L
  private val lookups = ArrayBuffer[(Long, Long, Array[Row], Long)]()
  private val seen = scala.collection.mutable.Map[String, Long]()
  private var deltaBytes, otherBytes = 0L
  private val compactS = ArrayBuffer[Double]()
  private var firstPairs: Option[(Set[(Long, Long)], Set[(Long, Long)])] = None

  private def applyEpoch(e: Long): Unit =
    CdcUpsert.applyBatch(cdc.batch(spark, e).toDF(), e, state, policy)
  private def refresh(): Array[Row] =
    Dedup.minhashIncremental(spark, docs, splitId = corpus.splitId, deltaOnly = true).collect()
  private def rebuild(): Array[Row] = Dedup.minhash(spark, docs).collect()
  private def pairs(rows: Array[Row]): Set[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Generates the corpus, applies the first epochs to a fresh state and
    * builds the refresh's history band index (an ArtifactCache build). */
  def setup(r: String): Unit = {
    root = r
    lookups.clear()
    seen.clear()
    concurrently(
      () => (1L to setupEpochs).foreach(applyEpoch),
      () => {
        corpus.write(spark, docs)
        Dedup.minhashIncremental(spark, docs, splitId = corpus.splitId, deltaOnly = true)
      })
    epoch = setupEpochs
  }

  override def warm(): Unit = {
    epoch += 1
    var rf, rb: Set[(Long, Long)] = null
    concurrently(
      () => {
        applyEpoch(epoch)
        CdcUpsert.keyLookup(spark, state, cdc.lookupKey(-1), policy)._1.foreach(_.collect())
      },
      () => rf = pairs(refresh()),
      () => rb = pairs(rebuild()))
    firstPairs = Some((rf, rb))
    PhaseTiming.drain()
    RoutingMetrics.drain()
    noteWrites()
    deltaBytes = 0L
    otherBytes = 0L
  }

  private def files(): Seq[(String, Long)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(state))
    try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
      .map { f => val p = f.asInstanceOf[java.nio.file.Path]; p.toString -> java.nio.file.Files.size(p) }
    finally walk.close()
  }

  /** Attributes the bytes the last apply wrote to deltas or to compaction. */
  private def noteWrites(): Unit = files().foreach { case (f, n) =>
    if (!seen.get(f).contains(n)) {
      seen(f) = n
      if (f.contains("/delta/")) deltaBytes += n else otherBytes += n
    }
  }

  def op(i: Long): Op = {
    val p = (i % period).toInt
    if (p >= policy.maxDeltas * perEpoch) {
      if (p == period - 2) Op("refresh", () => {
        val rows = span("dedup.refresh") { refresh() }
        () => if (firstPairs.exists(_._1 == pairs(rows))) None else Some("refresh pairs differ from the first refresh")
      })
      else Op("rebuild", () => {
        val rows = span("dedup.rebuild") { rebuild() }
        () => if (firstPairs.exists(_._2 == pairs(rows))) None else Some("rebuild pairs differ from the first rebuild")
      })
    }
    else if (p % perEpoch == 0) {
      val e = epoch + 1
      Op(if (e % policy.maxDeltas == 0) "compact" else "apply", () => {
        epoch = e
        PhaseTiming.drain()
        span("cdc.apply") { applyEpoch(e) }
        val phases = PhaseTiming.drain()
        RoutingMetrics.drain()
        val traced = ctx.tracer.on
        () => {
          if (traced) compactS ++= phases.collect { case (k, v) if k.startsWith("compact") => v }
          noteWrites()
          None
        }
      })
    }
    else Op("lookup", () => {
      val key = cdc.lookupKey(i)
      val (rows, parts) = span("cdc.lookup") {
        val (df, parts) = CdcUpsert.keyLookup(spark, state, key, policy)
        (df.map(_.collect()).getOrElse(Array.empty[Row]), parts)
      }
      lookups += ((epoch, key, rows, parts))
      () => if (parts == 1L) None else Some(s"lookup of $key listed $parts partitions")
    })
  }

  /** Incremental == rebuild on both state layers: the final CDC state
    * equals the fold over every batch, every lookup matches a driver-side
    * replay of the generated events, and the refresh pairs plus the pairs
    * of a MinHash run over the history alone equal the rebuild's. */
  override def verify(): Seq[String] = {
    val errs = ArrayBuffer[String]()
    val inc = CdcUpsert.stateAsOf(spark, state, epoch, policy).get
    val all = (1L to epoch).map(e => cdc.batch(spark, e).toDF()).reduce(_ unionByName _)
    def sorted(df: DataFrame) = df.orderBy(col("user_id")).collect().toSeq
    if (sorted(inc) != sorted(CdcUpsert.fold(CdcUpsert.deltaOf(all))))
      errs += s"CDC state as of epoch $epoch != fold over all batches"
    val ref = scala.collection.mutable.Map[Long, (Long, CdcEvent)]()
    var replayed = 0L
    def ord(x: CdcEvent) = (x.ts.getTime, x.event_id)
    lookups.sortBy(_._1).foreach { case (e, key, rows, _) =>
      while (replayed < e) {
        replayed += 1
        (0L until cdc.batchEvents).foreach { i =>
          val ev = cdc.event(replayed, i)
          val (n, last) = ref.getOrElse(ev.user_id, (0L, ev))
          ref(ev.user_id) = (n + 1, if (Ordering[(Long, Long)].gteq(ord(ev), ord(last))) ev else last)
        }
      }
      val want = ref.get(key).map { case (n, l) => (n, l.event_id, l.event_type, l.value) }
      val got = rows.headOption.map { r =>
        val l = r.getStruct(2)
        (r.getLong(1), l.getLong(1), l.getString(2), l.getDouble(3))
      }
      if (rows.length > 1 || got != want) errs += s"lookup of $key at epoch $e: got $got, want $want"
    }
    firstPairs.foreach { case (rf, rb) =>
      val hist = s"$root/history"
      corpus.write(spark, hist, corpus.splitId)
      val h = pairs(Dedup.minhash(spark, hist).collect())
      if (h ++ rf != rb || (h intersect rf).nonEmpty)
        errs += s"refresh (${rf.size}) + history (${h.size}) pairs != rebuild (${rb.size}) pairs"
    }
    errs.toSeq
  }

  /** Bytes of the live state written once as a single compact file. */
  private def liveBytes(): Long = {
    val d = s"$root/live"
    CdcUpsert.stateAsOf(spark, state, epoch, policy).get.coalesce(1).write.mode("overwrite").parquet(d)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    try walk.filter(_.toString.endsWith(".parquet")).mapToLong(java.nio.file.Files.size(_)).sum
    finally walk.close()
  }

  def layers: Map[String, Double] = {
    val fs = files()
    val stateBytes = fs.filter(_._1.endsWith(".parquet")).map(_._2).sum
    Map(
      "cdc.apply_s" -> median(spanSeconds("cdc.apply")),
      "cdc.apply_jobs" -> jobsPer("cdc.apply"),
      "cdc.compact_s" -> mean(compactS.toSeq),
      "cdc.lookup_s" -> median(spanSeconds("cdc.lookup")),
      "cdc.lookup_jobs" -> jobsPer("cdc.lookup"),
      "cdc.parts_listed" -> mean(lookups.map(_._4.toDouble).toSeq),
      "cdc.state_files" -> fs.size.toDouble,
      "cdc.state_bytes" -> stateBytes.toDouble,
      "cdc.write_amp" -> (if (deltaBytes == 0) 0.0 else (deltaBytes + otherBytes).toDouble / deltaBytes),
      "cdc.space_amp" -> stateBytes.toDouble / liveBytes(),
      "dedup.rebuild_s" -> median(spanSeconds("dedup.rebuild")),
      "dedup.rebuild_jobs" -> jobsPer("dedup.rebuild"),
      "dedup.refresh_s" -> median(spanSeconds("dedup.refresh")),
      "dedup.refresh_jobs" -> jobsPer("dedup.refresh"),
      "dedup.pairs" -> firstPairs.map(_._2.size.toDouble).getOrElse(0.0))
  }

  override def layerPrefixes: Set[String] = Set("cdc", "dedup")

  def inputs: Map[String, Any] = Map("cdc_users" -> cdc.users, "cdc_events_per_batch" -> cdc.batchEvents,
    "cdc_partitions" -> policy.numPartitions, "cdc_max_deltas" -> policy.maxDeltas,
    "lookups_per_epoch" -> lookupsPerEpoch, "setup_epochs" -> setupEpochs,
    "corpus_docs" -> corpus.docs, "corpus_delta_docs" -> corpus.deltaDocs,
    "corpus_replicas" -> corpus.replicas, "corpus_perturb_share" -> corpus.perturbShare)
}

// =====================================================================
// etl_state_mix
// =====================================================================

/** Two workloads as one: each period runs a period of `a`, then a period
  * of `b`. Set-up and warm-up run the parts side by side; the warm-up then
  * runs each part's own settle operations, untimed, since a part whose
  * operations are spread thin over the mixed periods would otherwise keep
  * speeding up through the timed loop. */
final class Mixed(c: Ctx, a: Workload, b: Workload) extends Workload(c) {
  override val period: Int = a.period + b.period
  private var ia, ib = 0L
  private val settleErrors = ArrayBuffer[String]()

  def setup(root: String): Unit = concurrently(() => a.setup(s"$root/a"), () => b.setup(s"$root/b"))

  def warm(): Unit = {
    concurrently(() => a.warm(), () => b.warm())
    ia = settle(a, ia)
    ib = settle(b, ib)
  }

  /** Runs `w`'s settle operations from its operation `from`; returns the
    * index of its next operation. */
  private def settle(w: Workload, from: Long): Long = {
    var i = from
    while (i - from < w.settleOps || (i - from) % w.period != 0) {
      settleErrors ++= w.op(i).body()()
      i += 1
    }
    i
  }

  def op(i: Long): Op =
    if (i % period < a.period) { ia += 1; a.op(ia - 1) }
    else { ib += 1; b.op(ib - 1) }

  override def verify(): Seq[String] = settleErrors.toSeq ++ a.verify() ++ b.verify()
  override def oracleDumps: Map[String, (String, Array[Row])] = a.oracleDumps ++ b.oracleDumps
  override def tables: String = Seq(a.tables, b.tables).find(_.nonEmpty).getOrElse("")
  def layers: Map[String, Double] = a.layers ++ b.layers
  def layerPrefixes: Set[String] = a.layerPrefixes ++ b.layerPrefixes
  def inputs: Map[String, Any] = a.inputs ++ b.inputs
}

object Workloads {
  val names: Seq[String] = Seq("etl_state_mix", "olap_mix")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_state_mix" => new Mixed(ctx, new EtlFlow(ctx), new StateMix(ctx))
    case "olap_mix" => new OlapMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other; one of ${names.mkString(", ")}")
  }
}
