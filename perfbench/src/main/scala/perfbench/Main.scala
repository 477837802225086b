package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.RollupRouting
import graft.plans.RollupRouting.{JoinSpec, Spec}

/** The benchmark's JVM side. It drives the engine from outside, only
  * through public entry points (`SparkEntry.queries`, the live
  * maintainers, compaction, TTL expiry, the spec factories and the
  * routing registry), times each call, and writes one JSON result file
  * that `run.py` turns into metrics.
  *
  * Usage: Main <workload> <key=value>... (see `run.py`, which builds the
  * argument list). */
object Main {
  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing option $k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  /** One timed operation. `due` is set on the open-loop workload. */
  final case class OpRec(id: String, name: String, phase: String, startMs: Double,
                         constructMs: Double, endMs: Double, ok: Boolean,
                         err: String, rows: Long, hash: String,
                         extra: Map[String, String] = Map.empty)

  /** Set-ups per run (each in a fresh session; the median is reported)
    * and warm passes after the last one. */
  val SetupReps = 2
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val workload = args.head
    val o = Opts(args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val trace = new Trace(o("trace") == "1")
    val out = o("out")
    val result = workload match {
      case "reads" => new ReadWorkload(o, trace).run()
      case "ingest" => new IngestWorkload(o, trace).run()
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(out), result)
    sys.exit(0)
  }

  // ——— shared helpers ———

  def jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** A value normalized for hashing: doubles to 12 significant digits
    * (the last bits of a float aggregate may depend on task order),
    * nested values recursively. */
  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** Order-insensitive 64-bit hash of a result set (a multiset of
    * rows), plus the row count. */
  def hashRows(rows: Array[Row]): String = {
    val hs = rows.map { r =>
      val s = norm(r)
      (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 31) & 0xffffffffL)
    }.sorted
    val a = MurmurHash3.arrayHash(hs, 7)
    val b = MurmurHash3.arrayHash(hs, 11)
    f"$a%08x$b%08x:${rows.length}"
  }

  def jvmStats(): Seq[(String, String)] = {
    import java.lang.management.ManagementFactory
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Seq("peak_rss_mb" -> Json.num(hwmKb / 1024.0),
      "jvm_gc_s" -> Json.num(gcMs / 1e3),
      "jvm_heap_peak_mb" -> Json.num(heapPeak / 1048576.0))
  }

  /** Bytes this process has written so far (`wchar`). */
  def written(): Long =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("wchar:")).map(_.split(":\\s*")(1).trim.toLong).getOrElse(0L)

  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }

  def opJson(r: OpRec): String = Json.obj(Seq(
    "id" -> Json.str(r.id), "name" -> Json.str(r.name), "phase" -> Json.str(r.phase),
    "start" -> Json.num(r.startMs), "construct" -> Json.num(r.constructMs),
    "end" -> Json.num(r.endMs), "ok" -> Json.bool(r.ok), "err" -> Json.str(r.err),
    "rows" -> Json.num(r.rows), "hash" -> Json.str(r.hash)) ++
    r.extra.toSeq.map { case (k, v) => k -> v })

  def setOp(spark: SparkSession, id: String): Unit =
    spark.sparkContext.setLocalProperty(Trace.OpProperty, id)

  def newSession(cpus: Int, trace: Trace): SparkSession = {
    val s = graft.Sessions.local(cpus.toString)
    trace.attach(s)
    s
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }
}

import Main._

/** `reads`: a closed loop with one client over a seeded
  * order of `SparkEntry.queries` entries. One operation is one entry call
  * (construction) plus collecting its rows to the client (the sink),
  * whose hash must equal the entry's setup-time hash. */
final class ReadWorkload(o: Opts, trace: Trace) {
  private val data = o("data")
  private val root = o("root")
  private val cpus = o.int("cpus")
  private val order: Seq[String] = Files.readAllLines(Paths.get(o("order"))).asScala
    .map(_.trim).filter(_.nonEmpty).toSeq
  private val mix: Seq[String] = order.distinct
  /** Entries whose first call builds session state (an MV or an index).
    * Set-ups after the first rebuild only these: the others have
    * nothing to set up. */
  private val stateful: Set[String] = o("stateful").split(',').filter(_.nonEmpty).toSet
  private val entries = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private var spark: SparkSession = _
  private val pinned = scala.collection.mutable.Map.empty[String, String]
  private val ops = ArrayBuffer.empty[OpRec]

  private def runOp(id: String, name: String, phase: String): (OpRec, Array[Row], DataFrame) = {
    setOp(spark, id)
    val t0 = Clock.nowMs
    var tc = t0
    var rows: Array[Row] = Array.empty
    var df: DataFrame = null
    val err = try {
      trace.span(id, -1, "op") { root =>
        df = trace.span(id, root, "construct")(_ => entries(name)(spark, data))
        tc = Clock.nowMs
        rows = trace.span(id, root, "sink")(_ => df.collect())
      }
      ""
    } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val t1 = Clock.nowMs
    val h = if (err.isEmpty) hashRows(rows) else ""
    val ok = err.isEmpty && pinned.get(name).forall(_ == h)
    (OpRec(id, name, phase, t0, tc, t1, ok,
      if (err.nonEmpty) err else if (!ok) s"hash $h != pinned ${pinned(name)}" else "",
      rows.length.toLong, h), rows, df)
  }

  def run(): String = {
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    val resolveS = ArrayBuffer.empty[Double]
    val firstPass = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val setupWritten = ArrayBuffer.empty[Double]
    trace.rawDataPrefix = Paths.get(data).toAbsolutePath.toString
    for (r <- 1 to SetupReps) {
      val t0 = if (r == 1) jvmStartMs else Clock.nowMs
      val w0 = written()
      if (spark != null) spark.stop()
      // each set-up builds its MVs and indices into a fresh scratch dir
      val tmp = Paths.get(root, "tmp", s"rep$r")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      spark = newSession(cpus, trace)
      val t1 = Clock.nowMs
      graft.Tables.names.foreach(n => graft.Tables.load(spark, data, n).schema)
      val t2 = Clock.nowMs
      mix.filter(n => r == 1 || stateful(n)).foreach { name =>
        val (rec, rows, df) = runOp(s"s$r-$name", name, "setup")
        firstPass.getOrElseUpdate(name, ArrayBuffer.empty) += (rec.endMs - rec.startMs) / 1e3
        if (r == 1) {
          ops += rec
          if (rec.err.isEmpty) {
            pinned(name) = rec.hash
            if (oracle.contains(name))
              spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
                .write.parquet(Paths.get(root, "oracle", name).toString)
          }
        } else if (!rec.ok) ops += rec
      }
      setupS += (Clock.nowMs - t0) / 1e3
      sessionS += (t1 - t0) / 1e3
      resolveS += (t2 - t1) / 1e3
      setupWritten += (written() - w0).toDouble
    }
    Files.createDirectories(Paths.get(root, "oracle"))
    Files.writeString(Paths.get(root, "oracle", "oracle_sql.json"),
      Json.obj(mix.filter(oracle.contains).map(n => n -> Json.str(oracle(n)))))

    // a fixed number of warm passes over the mix
    val warmT0 = Clock.nowMs
    val passes = ArrayBuffer.empty[Double]
    while (passes.length < WarmPasses) {
      val p0 = Clock.nowMs
      mix.foreach { name =>
        val (rec, _, _) = runOp(s"w${passes.length}-$name", name, "warm")
        if (!rec.ok) ops += rec
      }
      passes += (Clock.nowMs - p0) / 1e3
    }
    val warmS = (Clock.nowMs - warmT0) / 1e3

    // measured closed loop
    trace.drain(spark)
    val (cg0, cgs0) = codegen()
    val budgetMs = o.dbl("seconds") * 1000
    val m0 = Clock.nowMs
    var i = 0
    // measure whole rounds of the mix, so every entry weighs the same in
    // every run: finish the round the budget runs out in
    while (Clock.nowMs - m0 < budgetMs || i % mix.length != 0) {
      ops += runOp(s"m$i", order(i % order.length), "measure")._1
      i += 1
    }
    val m1 = Clock.nowMs
    val (cg1, cgs1) = codegen()
    trace.drain(spark)
    val stats = jvmStats()
    spark.stop()
    Json.obj(Seq(
      "workload" -> Json.str(o("workload")),
      "setup_written" -> Json.arr(setupWritten.map(Json.num).toSeq),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "setup_s" -> Json.arr(setupS.map(Json.num).toSeq),
      "session_start_s" -> Json.arr(sessionS.map(Json.num).toSeq),
      "tables_resolve_s" -> Json.arr(resolveS.map(Json.num).toSeq),
      "first_pass_s" -> Json.obj(firstPass.toSeq.map { case (k, v) => k -> Json.arr(v.map(Json.num).toSeq) }),
      "warm_passes" -> Json.arr(passes.map(Json.num).toSeq),
      "warm_s" -> Json.num(warmS),
      "measure_start" -> Json.num(m0), "measure_end" -> Json.num(m1),
      "codegen_compiles" -> Json.num(cg1 - cg0),
      "codegen_compile_s" -> Json.num(cgs1 - cgs0),
      "ops" -> Json.arr(ops.map(opJson).toSeq),
      "trace" -> (if (trace.enabled) trace.json else "null")) ++ stats)
  }
}

/** `ingest`: an open loop over a fixed delivery schedule. A generator
  * thread lands each seeded delivery (an events slice and a lineitem
  * slice) in the lakes when it is due. The client loop triggers on a
  * fixed processing-time interval: it drains whatever has landed
  * through three maintainers, compacts the rollups, expires old days,
  * and ends each trigger with a routed hybrid read (rollup ∪ live tail). A delivery's latency runs from when it was due to when
  * the first read that reflects it returned. After the measured window
  * every read is checked against a raw recompute over the rows it saw. */
final class IngestWorkload(o: Opts, trace: Trace) {
  private val data = o("data")
  private val root = o("root")
  private val stage = o("stage")
  private val cpus = o.int("cpus")
  private val lateUs = o("lateness_us").toLong
  /** Deliveries landed at once and drained during each set-up. */
  private val History = 2
  /** One delivery is due every PeriodMs; the processing-time trigger
    * fires every TriggerMs. */
  private val PeriodMs = 500.0
  private val TriggerMs = 5000.0
  /** The TTL job ages out days older than this before the newest
    * drained event. */
  private val RetentionUs = 3 * 86400000000L
  private val manifest: IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(stage, "manifest.tsv")).asScala.toIndexedSeq
      .map(_.split('\t'))
  private val nDeliveries = manifest.length
  private def dDir(i: Int) = Paths.get(stage, f"d$i%04d")

  private var spark: SparkSession = _
  private var base: Path = _
  private var daily, uniq, ttl: Spec = _
  private var revseg: JoinSpec = _
  private val landLock = new Object
  @volatile private var landed = Vector.empty[Int]
  private var drainedMaxUs = Long.MinValue
  private val ops = ArrayBuffer.empty[OpRec]
  private val reads = ArrayBuffer.empty[(String, Vector[Int], Array[Row])]

  private def lake(n: String) = base.resolve("lake").resolve(n).toString
  private def ckpt(n: String) = base.resolve("ckpt").resolve(n).toString

  /** Copy delivery i into the lakes: the flat events and lineitem
    * lakes the maintainers stream from, and the day-partitioned events
    * lake the TTL job ages out. */
  private def land(i: Int): Unit = {
    val d = dDir(i)
    def put(src: Path, dstDir: Path): Unit = {
      Files.createDirectories(dstDir)
      val tmp = dstDir.resolve(f".d$i%04d.tmp")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dstDir.resolve(f"d$i%04d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    put(d.resolve("events.parquet"), Paths.get(lake("events.parquet")))
    put(d.resolve("lineitem.parquet"), Paths.get(lake("lineitem.parquet")))
    Files.list(d.resolve("ttl")).iterator().asScala.toSeq.sortBy(_.toString).foreach { p =>
      put(p.resolve("part.parquet"), Paths.get(lake("events_ttl")).resolve(p.getFileName.toString))
    }
    landed = landed :+ i
  }

  // resolved once per set-up: the delivery schema and the dims never change
  private var eventsSchema, lineitemSchema: org.apache.spark.sql.types.StructType = _
  private var orders, customer: DataFrame = _

  private def setupRep(r: Int): Unit = {
    if (spark != null) {
      Seq(daily, uniq, ttl).foreach(s => RollupRouting.unregister(s.rollupPath))
      RollupRouting.unregister(revseg.rollupPath)
      spark.stop()
    }
    base = Paths.get(root, "ingest", s"rep$r")
    val tmp = Paths.get(root, "tmp", s"rep$r")
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    landed = Vector.empty
    drainedMaxUs = Long.MinValue
    spark = newSession(cpus, trace)
    eventsSchema = spark.read.parquet(dDir(0).resolve("events.parquet").toString).schema
    lineitemSchema = spark.read.parquet(dDir(0).resolve("lineitem.parquet").toString).schema
    orders = spark.read.parquet(s"$data/orders.parquet")
    customer = spark.read.parquet(s"$data/customer.parquet")
    daily = Spec("events.parquet", base.resolve("mv/events_daily").toString)
    uniq = graft.ops.Rollups.uniqSketchSpec(base.resolve("mv/events_uniq").toString)
    ttl = Spec("events_ttl", base.resolve("mv/events_ttl_rollup").toString)
    revseg = JoinSpec.revenueSegmentDated(base.resolve("mv/revseg").toString)
    Seq(daily, uniq, ttl).foreach(RollupRouting.register)
    RollupRouting.registerJoin(revseg)
  }

  // ——— the reads: the unchanged dashboard queries a user would write ———

  private def dailyQuery(ev: DataFrame): DataFrame =
    ev.groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(graft.ops.Fns.dsum(col("value")).as("total_value"), count(lit(1)).as("tx_count"))
      .orderBy("day", "user_id")
  private def uniqQuery(ev: DataFrame): DataFrame =
    ev.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("uniq_users_approx"),
           count(lit(1)).as("daily_txs"))
      .orderBy("day")
  private def revsegQuery(li: DataFrame): DataFrame =
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("c_mktsegment"))
      .agg(graft.ops.Fns.dsum(col("rev")).as("revenue"),
           countDistinct(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment")
  private def lakeEvents = graft.Tables.normalizeTs(spark.read.parquet(lake("events.parquet")))
  private def ttlQuery: DataFrame = dailyQuery(spark.read.parquet(lake("events_ttl")))

  /** One trigger: drain, compact, expire, then the routed hybrid daily
    * read. */
  private def trigger(id: String, phase: String): OpRec = {
    setOp(spark, id)
    val t0 = Clock.nowMs
    var busy = 0.0
    def timedStep[A](name: String, parent: Int)(f: => A): A = {
      val s0 = Clock.nowMs
      try trace.span(id, parent, name)(_ => f)
      finally busy += (Clock.nowMs - s0) / 1e3
    }
    var snap = Vector.empty[Int]
    var tRead = t0
    var compactBytes = 0L
    val err = try {
      trace.span(id, -1, "op") { top =>
        val ev = graft.Tables.normalizeTs(spark.readStream.schema(eventsSchema)
          .parquet(lake("events.parquet")))
        timedStep("maintain.events_daily", top) {
          graft.streaming.Live.maintainRollup(ev, daily, lateUs, Some(ckpt("daily")), 0)
        }
        timedStep("maintain.events_uniq", top) {
          graft.streaming.Live.maintainRollup(ev, uniq, lateUs, Some(ckpt("uniq")), 0)
        }
        timedStep("maintain.revseg", top) {
          graft.streaming.Live.maintainJoinRollup(
            spark.readStream.schema(lineitemSchema).parquet(lake("lineitem.parquet")),
            "lineitem",
            Map("orders" -> orders, "customer" -> customer),
            revseg, 0L, 86400000000L, Some(ckpt("revseg")), 0)
        }
        drainedMaxUs = math.max(drainedMaxUs,
          landed.map(i => manifest(i)(3).toLong).maxOption.getOrElse(Long.MinValue))
        // every trigger compacts the three rollups and ages the
        // day-partitioned lake past the retention into its rollup
        compactBytes = Seq(daily.rollupPath, uniq.rollupPath, revseg.rollupPath).map(dirBytes).sum
        timedStep("compact", top) {
          graft.ops.Rollups.compactRollup(spark, daily)
          graft.ops.Rollups.compactRollup(spark, uniq)
          graft.ops.Rollups.compactJoinRollup(spark, revseg)
        }
        val cutoff = Math.floorDiv(drainedMaxUs - RetentionUs, 86400000000L) * 86400000000L
        if (cutoff > 0) timedStep("ttl", top) {
          graft.ops.Lifecycle.expireIntoRollup(spark, lake("events_ttl"), ttl, cutoff)
        }
        // the generator may not land while the read runs, so the read
        // sees exactly the snapshot it is checked against
        landLock.synchronized {
          snap = landed
          tRead = Clock.nowMs
          val rows = trace.span(id, top, "read.events_daily")(_ => dailyQuery(lakeEvents).collect())
          reads += ((id, snap, rows))
        }
      }
      ""
    } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val t1 = Clock.nowMs
    OpRec(id, "trigger", phase, t0, tRead, t1, err.isEmpty, err, snap.length.toLong, "",
      Map("busy_s" -> Json.num(busy),
          "compact_bytes" -> Json.num(compactBytes)))
  }

  /** The first row (in a canonical order) that one result has and the
    * other lacks, for the failure listing. */
  private def firstDiff(got: Array[Row], want: Array[Row]): String = {
    val g = got.map(_.toString).sorted
    val w = want.map(_.toString).sorted
    val onlyG = g.diff(w).headOption.map(r => s"routed has $r").getOrElse("")
    val onlyW = w.diff(g).headOption.map(r => s"raw has $r").getOrElse("")
    s"${got.length} vs ${want.length} rows; $onlyG $onlyW".trim
  }

  /** Routed read against the raw recompute over the same landed rows;
    * None when they agree. */
  private def check(name: String, routed: Array[Row], raw: Array[Row]): Option[String] =
    if (hashRows(routed) == hashRows(raw)) None
    else if (name == "events_uniq" && sketchAgrees(routed, raw)) {
      sketchInexact += 1
      None
    } else Some(s"$name: ${firstDiff(routed, raw)}".take(400))

  /** An HLL estimate read from merged states need not equal the
    * single-pass estimate bit for bit (a union has no HIP accumulator),
    * so the sketch read must match the recompute exactly on its keys
    * and counts and within the sketch's error bound on the estimate:
    * 3 × the relative standard error of lgK = 12 (1.04 / √4096). */
  private def sketchAgrees(routed: Array[Row], raw: Array[Row]): Boolean = {
    val bound = 3 * 1.04 / math.sqrt(4096)
    def byDay(rs: Array[Row]) = rs.map(r => r.get(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (g, w) = (byDay(routed), byDay(raw))
    g.keySet == w.keySet && g.forall { case (d, (est, n)) =>
      val (west, wn) = w(d)
      n == wn && math.abs(est - west) <= bound * west
    }
  }
  private var sketchInexact = 0

  def run(): String = {
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    trace.rawDataPrefix = Paths.get(stage).toAbsolutePath.toString
    for (r <- 1 to SetupReps) {
      val t0 = if (r == 1) jvmStartMs else Clock.nowMs
      setupRep(r)
      val t1 = Clock.nowMs
      (0 until History).foreach(land)
      val rec = trigger(s"s$r", "setup")
      if (r == 1 || !rec.ok) ops += rec
      setupS += (Clock.nowMs - t0) / 1e3
      sessionS += (t1 - t0) / 1e3
    }
    // warm: one delivery per trigger, back to back
    var next = History
    val passes = ArrayBuffer.empty[Double]
    val warmT0 = Clock.nowMs
    while (passes.length < WarmPasses && next < nDeliveries) {
      land(next); next += 1
      val rec = trigger(s"w${passes.length}", "warm")
      if (!rec.ok) ops += rec
      passes += (rec.endMs - rec.startMs) / 1e3
    }
    val warmS = (Clock.nowMs - warmT0) / 1e3

    // measured open loop
    trace.drain(spark)
    val (cg0, cgs0) = codegen()
    val budgetMs = o.dbl("seconds") * 1000
    val written0 = written()
    val m0 = Clock.nowMs
    val first = next
    val due = scala.collection.mutable.Map.empty[Int, Double]
    val landedAt = scala.collection.mutable.Map.empty[Int, Double]
    @volatile var stop = false
    val gen = new Thread(() => {
      var k = 0
      while (!stop && first + k < nDeliveries && k * PeriodMs < budgetMs) {
        val at = m0 + k * PeriodMs
        val wait = at - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        landLock.synchronized {
          if (!stop) {
            land(first + k)
            due.synchronized { due(first + k) = at; landedAt(first + k) = Clock.nowMs }
          }
        }
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    // a processing-time trigger: one trigger every TriggerMs (at once
    // when the previous one overran), each draining what has landed,
    // until every due delivery is reflected by a read
    var t = 0
    var lastSeen = landed.length
    while (gen.isAlive || landed.length > lastSeen) {
      val wait = m0 + (t + 1) * TriggerMs - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong)
      if (landed.length > lastSeen) {
        val rec = trigger(s"m$t", "measure")
        ops += rec
        lastSeen = if (rec.ok) rec.rows.toInt else landed.length
      }
      t += 1
    }
    stop = true
    gen.join()
    val m1 = Clock.nowMs
    val writtenBytes = written() - written0
    val (cg1, cgs1) = codegen()
    trace.drain(spark)
    val deliveryRecs = due.synchronized {
      due.keys.toSeq.sorted.map { i =>
        Json.obj(Seq("id" -> Json.num(i), "due" -> Json.num(due(i)),
          "landed" -> Json.num(landedAt(i)),
          "events_rows" -> manifest(i)(1), "lineitem_rows" -> manifest(i)(2),
          "bytes" -> manifest(i)(4)))
      }
    }

    // every read against a raw recompute over exactly the rows it saw,
    // then the other three MVs' routed reads over the final lake
    val finalRouted = Seq(
      "events_uniq" -> uniqQuery(lakeEvents).collect(),
      "revseg" -> revsegQuery(spark.read.parquet(lake("lineitem.parquet"))).collect(),
      "events_ttl" -> ttlQuery.collect())
    Seq(daily, uniq, ttl).foreach(s => RollupRouting.unregister(s.rollupPath))
    RollupRouting.unregister(revseg.rollupPath)
    setOp(spark, "check")
    def rawEvents(snap: Vector[Int]) = graft.Tables.normalizeTs(
      spark.read.parquet(snap.map(i => dDir(i).resolve("events.parquet").toString): _*))
    val checks = reads.map { case (id, snap, got) =>
      id -> check("events_daily", got, dailyQuery(rawEvents(snap)).collect()).toSeq
    } :+ {
      val ev = rawEvents(landed)
      val li = spark.read.parquet(landed.map(i => dDir(i).resolve("lineitem.parquet").toString): _*)
      val raw = Map(
        "events_daily" -> dailyQuery(ev).collect(),
        "events_uniq" -> uniqQuery(ev).collect(),
        "revseg" -> revsegQuery(li).collect())
      "final" -> finalRouted.flatMap { case (n, got) =>
        check(n, got, raw(if (n == "events_ttl") "events_daily" else n)) }
    }
    val checkJs = checks.map { case (id, bad) =>
      Json.obj(Seq("op" -> Json.str(id), "mismatches" -> Json.arr(bad.map(Json.str)))) }
    val stats = jvmStats()
    spark.stop()
    Json.obj(Seq(
      "workload" -> Json.str("ingest"),
      "measure_written_bytes" -> Json.num(writtenBytes),
      "landed" -> Json.arr(landed.map(Json.num)),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "setup_s" -> Json.arr(setupS.map(Json.num).toSeq),
      "session_start_s" -> Json.arr(sessionS.map(Json.num).toSeq),
      "tables_resolve_s" -> Json.arr(Nil),
      "warm_passes" -> Json.arr(passes.map(Json.num).toSeq),
      "warm_s" -> Json.num(warmS),
      "measure_start" -> Json.num(m0), "measure_end" -> Json.num(m1),
      "codegen_compiles" -> Json.num(cg1 - cg0),
      "codegen_compile_s" -> Json.num(cgs1 - cgs0),
      "ops" -> Json.arr(ops.map(opJson).toSeq),
      "deliveries" -> Json.arr(deliveryRecs),
      "checks" -> Json.arr(checkJs.toSeq),
      "sketch_inexact" -> Json.num(sketchInexact),
      "run_base" -> Json.str(base.toString),
      "trace" -> (if (trace.enabled) trace.json else "null")) ++ stats)
  }
}
