package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{base64, col}

import graft.SparkEntry
import graft.config.{IvfIndex, Pipeline, RunConfig}

/** JVM side of the benchmark. Reads a run spec (written by run.py), sets
  * the engine up, runs the workload's fixed op list through the engine's
  * public entry points, and writes one result JSON: per-op timings and
  * outcomes, set-up times, and (traced runs) every span.
  *
  * Usage: Main <spec.json> <result.json> | Main --list-keys <out.txt>
  *        | Main --oracle-sql <out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args(0) == "--list-keys") {
      Files.writeString(Paths.get(args(1)), SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
      System.exit(0)
    }
    if (args(0) == "--oracle-sql") {
      val j = new Json
      j.obj { SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, q) => j.field(k, q) } }
      Files.writeString(Paths.get(args(1)), j.toString)
      System.exit(0)
    }
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val result = new Bench(spec).run()
    Files.writeString(Paths.get(args(1)), result)
    System.exit(0)
  }
}

/** One timed call. `repeat` marks a call whose key or verb already ran
  * earlier in this process. */
final class OpRec(val id: Int, val key: String, val client: Int, val kind: String) {
  var startS = 0.0
  var durS = 0.0
  var constructS = 0.0
  var execS = 0.0
  var releaseS = 0.0
  var checkS = 0.0
  var rows = 0L
  var repeat = false
  var error: String = null
  var span: Span = null
  var storageMb = 0.0
  var extra = Map.empty[String, Double]
}

final class Bench(spec: JsonNode) {
  private val workload = spec.get("workload").asText
  private val dataDir = spec.get("data_dir").asText
  private val lakeDir = spec.get("lake_dir").asText
  private val checkDir = spec.get("check_dir").asText
  private val stateRoot = sys.props("java.io.tmpdir")
  private val cores = spec.get("cores").asInt
  private val selfTestCorrupt = Option(spec.get("corrupt_key")).map(_.asText).orNull
  private val tracer = new Tracer(spec.get("trace").asBoolean)
  private def strings(field: String): Seq[String] =
    Option(spec.get(field)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)

  private var spark: SparkSession = _
  private val seenKeys = ConcurrentHashMap.newKeySet[String]()
  private val firstHash = new ConcurrentHashMap[String, java.lang.Integer]()
  private val checked = new ConcurrentHashMap[String, String]()
  @volatile private var checkNs = 0L
  private var storagePeakMb = 0.0
  private val markers = ConcurrentHashMap.newKeySet[String]()
  private var lakeBuilds = 0
  private var lakeBuildS = 0.0
  // set-up split into JVM start, session start, warm-up, state fill
  private var setupParts = Seq.empty[Double]

  // ---- set-up ------------------------------------------------------------

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", spec.get("shuffle_partitions").asText)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spec.get("spark_local_dir").asText)
      .config("spark.sql.warehouse.dir", s"$stateRoot/../warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
  }

  /** Generic warm-up: scans, a join, an aggregation and a total sort over
    * the generated tables, so that JIT and codegen start-up is paid in
    * set-up rather than by whichever op runs first. Three rounds: on a
    * 4-vCPU VM, one round left `op_p50_s` on reports spread 0.27
    * (interquartile distance / median, ten seeds), three rounds 0.10. */
  private val warmUpRounds = 3

  private def warmUp(): Unit = {
    import org.apache.spark.sql.functions._
    def t(n: String) = spark.read.parquet(s"$dataDir/$n.parquet")
    spark.range(100000).selectExpr("sum(id)").collect()
    t("events").groupBy("event_type").agg(count(lit(1)), sum("value"))
      .orderBy("event_type").collect()
    if (new File(s"$dataDir/lineitem.parquet").exists) {
      val li = t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      li.groupBy("o_orderpriority", "l_returnflag")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")), avg("l_quantity"))
        .orderBy("o_orderpriority", "l_returnflag").collect()
    }
  }

  /** Stored-state fill: each listed key runs once, result discarded. */
  private def fill(): Unit = strings("fill_keys").foreach { k =>
    try SparkEntry.queries(k)(spark, dataDir).collect()
    catch { case _: Throwable => } // the timed call reports the failure
    spark.catalog.clearCache()
  }

  /** Set-up time from process launch until the first op is ready. */
  private def setUp(): Double = {
    val launchMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val t0 = System.currentTimeMillis()
    startSession()
    val t1 = System.currentTimeMillis()
    (1 to warmUpRounds).foreach(_ => warmUp())
    val t2 = System.currentTimeMillis()
    fill()
    val t3 = System.currentTimeMillis()
    setupParts = Seq(t0 - launchMs, t1 - t0, t2 - t1, t3 - t2).map(_ / 1e3)
    noteBuilds(0.0) // builds made by set-up are not charged to ops
    lakeBuilds = 0
    (t3 - launchMs) / 1e3
  }

  // ---- output checks (outside every op timer) ----------------------------

  private def valueHash(v: Any): Int = v match {
    case null => 0
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case r: Row => MurmurHash3.orderedHash(r.toSeq.map(valueHash))
    case s: scala.collection.Seq[_] => MurmurHash3.orderedHash(s.map(valueHash))
    case m: scala.collection.Map[_, _] =>
      MurmurHash3.unorderedHash(m.map { case (a, b) => (valueHash(a), valueHash(b)) })
    case d: Double if d.isNaN => 0x7ff80000
    case x => x.##
  }

  /** Compare a result with the key's first successful result; the first
    * one is written as parquet for the DuckDB oracle check in run.py. */
  private def checkRows(key: String, df: DataFrame, rows: Array[Row]): Option[String] = {
    val t0 = System.nanoTime()
    try {
      val h: java.lang.Integer = MurmurHash3.orderedHash(rows.iterator.map(valueHash))
      val prior = firstHash.putIfAbsent(key, h)
      if (prior == null) {
        // self-test only: drop a row so the oracle check must fail
        val out = if (key == selfTestCorrupt) rows.toSeq.dropRight(1) else rows.toSeq
        if (tracer.on) spark.sparkContext.setJobGroup("harness.check", "check")
        spark.createDataFrame(out.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$checkDir/$key")
        spark.sparkContext.clearJobGroup()
        checked.put(key, s"$checkDir/$key")
        None
      } else if (prior != h) Some(s"$key: result differs from its first call")
      else None
    } finally checkNs += System.nanoTime() - t0
  }

  // ---- ops ----------------------------------------------------------------

  private def timed(rec: OpRec, t0Ns: Long)(body: Span => Unit): OpRec = {
    rec.repeat = !seenKeys.add(rec.key)
    val opSpan = tracer.open("op", null)
    opSpan.attrs.put("op_id", rec.id)
    opSpan.attrs.put("key", rec.key)
    opSpan.attrs.put("workload", workload)
    rec.span = opSpan
    val s0 = System.nanoTime()
    rec.startS = (s0 - t0Ns) / 1e9
    try body(opSpan)
    catch {
      case e: Throwable =>
        if (rec.durS == 0.0) rec.durS = (System.nanoTime() - s0) / 1e9
        rec.error = s"${rec.key}: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    } finally {
      tracer.close(opSpan)
    }
    rec
  }

  private def runQuery(rec: OpRec, t0Ns: Long, release: Boolean): OpRec =
    timed(rec, t0Ns) { opSpan =>
      val s0 = System.nanoTime()
      val fn = SparkEntry.queries(rec.key)
      val (df, cs) = tracer.phase(spark, opSpan, "operators.construct")(fn(spark, dataDir))
      val (rows, es) = tracer.phase(spark, opSpan, "operators.exec")(df.collect())
      rec.durS = (System.nanoTime() - s0) / 1e9
      rec.constructS = cs
      rec.execS = es
      rec.rows = rows.length
      sampleStorage(rec)
      val c0 = System.nanoTime()
      rec.error = checkRows(rec.key, df, rows).orNull
      rec.checkS = (System.nanoTime() - c0) / 1e9
      if (release) releaseState(rec, opSpan)
      tracer.drain(spark)
    }

  private def releaseState(rec: OpRec, opSpan: Span): Unit = {
    val (_, rs) = tracer.phase(spark, opSpan, "state.release")(spark.catalog.clearCache())
    rec.releaseS = rs
  }

  private def sampleStorage(rec: OpRec): Unit = if (tracer.on) {
    val mb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    rec.storageMb = mb
    synchronized { storagePeakMb = math.max(storagePeakMb, mb) }
  }

  /** Count stored-state generations (LakeCache markers) created since the
    * last call; their op's time is charged to lake builds. */
  private def noteBuilds(durS: Double): Unit = if (tracer.on) synchronized {
    val now = allFiles(new File(stateRoot)).filter(_.getName == "_lake_managed").map(_.getPath)
    val fresh = now.filterNot(markers.contains)
    fresh.foreach(markers.add)
    if (fresh.nonEmpty) { lakeBuilds += fresh.size; lakeBuildS += durS }
  }

  private def queryOps(): Seq[OpRec] = {
    val ops = spec.get("ops").elements().asScala.toSeq.map(o =>
      new OpRec(o.get("id").asInt, o.get("key").asText, o.get("client").asInt, "query"))
    val clients = ops.map(_.client).distinct.sorted
    val t0 = System.nanoTime()
    val shared = clients.size > 1
    // a client's wall time leaves out the output checks it ran between ops
    val clientWall = new ConcurrentHashMap[Int, Double]()
    val threads = clients.map { c =>
      val mine = ops.filter(_.client == c)
      new Thread(() => {
        mine.foreach { r =>
          runQuery(r, t0, release = !shared)
          noteBuilds(r.durS)
        }
        clientWall.put(c, (System.nanoTime() - t0) / 1e9 - mine.map(_.checkS).sum)
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    wallS = clientWall.values.asScala.max
    if (shared) {
      val root = tracer.open("state.release", null)
      spark.catalog.clearCache()
      tracer.close(root)
      finalReleaseS = (root.endNs - root.startNs) / 1e9
    }
    ops
  }

  @volatile private var wallS = 0.0
  private var finalReleaseS = 0.0
  private val lakeChecks = ArrayBuffer.empty[(String, Boolean, String)]
  private var batchBytes = 0L
  private var rowsPublished = 0L

  // ---- lake_refresh ---------------------------------------------------------

  private def lakeOps(): Seq[OpRec] = {
    val lk = spec.get("lake")
    val snaps = lk.get("snapshots").elements().asScala.map(_.asText).toSeq
    val days = lk.get("days").elements().asScala.map(_.asText).toSeq
    val dayBytes = lk.get("day_bytes").elements().asScala.map(_.asLong).toSeq
    val boot = lk.get("bootstrap_days").asInt
    val reads = lk.get("reads").elements().asScala.map(_.asText).toSeq
    val idx = s"$lakeDir/ivf"
    val lake = s"$lakeDir/tables"
    val out = ArrayBuffer.empty[OpRec]
    var id = 0
    val t0 = System.nanoTime()
    def op(key: String, kind: String)(body: => Unit): Unit = {
      id += 1
      val r = new OpRec(id, key, 0, kind)
      timed(r, t0) { opSpan =>
        val before = if (tracer.on) lakeFiles() else Set.empty[String]
        val s0 = System.nanoTime()
        val (_, ps) = tracer.phase(spark, opSpan, kind)(body)
        r.durS = (System.nanoTime() - s0) / 1e9
        r.execS = ps
        if (kind == "config.read") r.rows = lastRows
        if (tracer.on) r.extra = Map("files_written" -> (lakeFiles() -- before).size.toDouble)
        sampleStorage(r)
        releaseState(r, opSpan)
        tracer.drain(spark)
      }
      out += r
    }
    def lakeFiles(): Set[String] = allFiles(new File(lakeDir)).map(_.getPath).toSet
    def publish(rs: Seq[Pipeline.TableResult]): Unit =
      rowsPublished += rs.map(_.rows).sum

    batchBytes += dayBytes.take(boot).sum
    op("pipeline_run", "config.publish") {
      publish(Pipeline.run(spark, RunConfig(snaps(boot - 1), Seq("events")), lake))
    }
    for (d <- boot until days.size) {
      val cfg = RunConfig(snaps(d), Seq("events"))
      val start = days(d)
      batchBytes += dayBytes(d)
      op("inc_monthly", "config.publish") {
        publish(Seq(Pipeline.runIncrementalMonthly(spark, cfg, lake, start))) }
      op("inc_sessions", "config.publish") {
        publish(Seq(Pipeline.runIncrementalSessions(spark, cfg, lake, start))) }
      op("inc_lifetime", "config.publish") {
        publish(Seq(Pipeline.runIncrementalLifetime(spark, cfg, lake, start))) }
      op("inc_churn", "config.publish") {
        publish(Seq(Pipeline.runIncrementalChurn(spark, cfg, lake, start))) }
      op("inc_reach", "config.publish") {
        publish(Seq(Pipeline.runIncrementalReach(spark, cfg, lake, start))) }
      reads.foreach { t =>
        op(s"read_$t", "config.read") {
          lastRows = Pipeline.readTable(spark, lake, t).collect().length
        }
      }
    }
    // IVF deployment-index lifecycle in a run-private directory
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val nVec = emb.count()
    val baseN = (nVec * 6 / 10)
    val batches = lk.get("ivf_batches").asInt
    val step = math.max(1L, (nVec - baseN) / batches)
    op("ivf_build", "config.index") {
      IvfIndex.build(spark, emb.where(col("vec_id") < baseN), idx,
        IvfIndex.K, IvfIndex.Ell, IvfIndex.LloydRounds)
    }
    var ingested = baseN
    for (b <- 0 until batches) {
      val lo = baseN + b * step
      val hi = if (b == batches - 1) nVec else lo + step
      op("ivf_ingest", "config.index") {
        IvfIndex.ingest(spark, idx, emb.where(col("vec_id") >= lo && col("vec_id") < hi))
      }
      ingested += hi - lo
    }
    val deleteIds = spark.range(0, nVec, lk.get("ivf_delete_stride").asLong).toDF("vec_id")
    val nDeleted = deleteIds.count()
    op("ivf_delete", "config.index") { IvfIndex.delete(spark, idx, deleteIds) }
    op("ivf_compact", "config.index") { IvfIndex.compact(spark, idx) }
    op("ivf_read", "config.read") {
      lastRows = IvfIndex.liveAssignments(spark, idx).collect().length
    }
    wallS = (System.nanoTime() - t0) / 1e9

    // checks, outside every op timer
    val c0 = System.nanoTime()
    val live = lastRows.toLong
    lakeChecks += (("ivf_live_count", live == ingested - nDeleted,
      s"live=$live ingested=$ingested deleted=$nDeleted"))
    val full = s"$lakeDir/full"
    Pipeline.run(spark, RunConfig(snaps.last, Seq("events")), full)
    // multisets of rows, so a duplicated or left-over row is a mismatch
    def rowsOf(o: String, t: String): Map[Seq[Any], Int] = {
      val df = Pipeline.readTable(spark, o, t)
      val sel = if (t == "type_reach")
        df.select(col("event_type"), base64(col("reach_kmv")), col("users_est"))
      else df.drop("month", "value_kll")
      sel.collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).groupBy(identity).map { case (r, rs) => r -> rs.size }
    }
    for (t <- Seq("monthly_usage", "sessions", "user_lifetime", "churn_daily", "type_reach")) {
      val inc = rowsOf(lake, t)
      // self-test only: duplicate one incremental row so the comparison must fail
      val a = if (selfTestCorrupt == t && inc.nonEmpty) {
        val (r, n) = inc.head
        inc.updated(r, n + 1)
      } else inc
      val b = rowsOf(full, t)
      lakeChecks += ((s"incremental_$t", a == b,
        s"incremental=${a.values.sum} rebuild=${b.values.sum} rows"))
    }
    checkNs += System.nanoTime() - c0
    out.toSeq
  }
  @volatile private var lastRows = 0

  // ---- run + report -----------------------------------------------------------

  def run(): String = {
    val setupS = setUp()
    val loadStart = loadAvg()
    val ops = if (workload == "lake_refresh") lakeOps() else queryOps()
    if (tracer.on) spark.catalog.clearCache()
    tracer.drain(spark)
    val storageEndMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val rddsLive = spark.sparkContext.getPersistentRDDs.size
    def bytesUnder(d: String): Double = allFiles(new File(d)).map(_.length).sum.toDouble
    val stateBytes = bytesUnder(stateRoot)
    val storedBytes = stateBytes + bytesUnder(lakeDir) +
      bytesUnder(spec.get("spark_local_dir").asText)
    val oracle = SparkEntry.oracleSql
    val loadEnd = loadAvg()
    val j = new Json
    j.obj {
      j.field("workload", workload)
      j.field("setup_s", setupS)
      j.field("setup_parts_s", setupParts)
      j.field("wall_s", wallS)
      j.field("final_release_s", finalReleaseS)
      j.field("check_jvm_s", checkNs / 1e9)
      j.field("peak_rss_mb", vmHwmMb())
      j.field("loadavg_start", loadStart)
      j.field("loadavg_end", loadEnd)
      j.field("storage_mb_peak", storagePeakMb)
      j.field("storage_mb_end", storageEndMb)
      j.field("rdds_live_end", rddsLive.toDouble)
      j.field("lake_builds", lakeBuilds.toDouble)
      j.field("lake_build_s", lakeBuildS)
      j.field("rows_published", rowsPublished.toDouble)
      j.field("batch_bytes", batchBytes.toDouble)
      j.field("cores", cores.toDouble)
      j.field("state_bytes", stateBytes)
      j.field("stored_bytes", storedBytes)
      j.key("oracle")
      j.obj { checked.asScala.keys.toSeq.sorted.foreach(k => j.field(k, oracle(k))) }
      j.arr("checked", checked.asScala.toSeq.sorted) { case (k, p) =>
        j.obj { j.field("key", k); j.field("path", p) }
      }
      j.arr("lake_checks", lakeChecks.toSeq) { case (n, ok, detail) =>
        j.obj { j.field("name", n); j.field("ok", ok); j.field("detail", detail) }
      }
      j.arr("ops", ops.sortBy(_.id)) { r =>
        j.obj {
          j.field("id", r.id.toDouble); j.field("key", r.key)
          j.field("client", r.client.toDouble); j.field("kind", r.kind)
          j.field("start_s", r.startS); j.field("dur_s", r.durS)
          j.field("construct_s", r.constructS); j.field("exec_s", r.execS)
          j.field("release_s", r.releaseS); j.field("rows", r.rows.toDouble)
          j.field("repeat", r.repeat); j.field("storage_mb", r.storageMb)
          j.field("span", if (r.span == null) 0.0 else r.span.id.toDouble)
          r.extra.foreach { case (k, v) => j.field(k, v) }
          if (r.error != null) j.field("error", r.error)
        }
      }
      j.arr("spans", tracer.spans.asScala.toSeq.sortBy(_.id)) { s =>
        j.obj {
          j.field("id", s.id.toDouble); j.field("parent", s.parent.toDouble)
          j.field("name", s.name)
          j.field("start_ns", s.startNs.toDouble); j.field("end_ns", s.endNs.toDouble)
          j.key("attrs")
          j.obj {
            s.attrs.asScala.toSeq.sortBy(_._1).foreach {
              case (k, v: Double) => j.field(k, v)
              case (k, v: Int) => j.field(k, v.toDouble)
              case (k, v) => j.field(k, v.toString)
            }
          }
        }
      }
    }
    spark.stop()
    j.toString
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  private def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  private def allFiles(d: File): Seq[File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) allFiles(f) else Seq(f)
    }
}

/** Minimal JSON writer (numbers, strings, booleans, objects, arrays). */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def obj(body: => Unit): Unit = {
    if (!first) sb.append(',')
    sb.append('{'); first = true; body; sb.append('}'); first = false
  }
  def field(k: String, v: String): Unit = { key(k); str(v); first = false }
  def field(k: String, v: Double): Unit = {
    key(k)
    sb.append(if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString)
    first = false
  }
  def field(k: String, v: Boolean): Unit = { key(k); sb.append(v); first = false }
  def field(k: String, v: Seq[Double]): Unit = {
    key(k); sb.append(v.map(x => BigDecimal(x).toString).mkString("[", ",", "]")); first = false
  }
  def arr[T](k: String, xs: Seq[T])(each: T => Unit): Unit = {
    key(k); sb.append('['); first = true
    xs.foreach(each)
    sb.append(']'); first = false
  }
  override def toString: String = sb.toString
}
