package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, GraftSession, SparkEntry, Tables}
import graft.expressions.{TextExpressions, VectorExpressions}
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.pipelines.CallsPipeline
import graft.streaming.CallsStreamPipeline

final case class Call(ts: Timestamp, user_id: Long, value: Double)

/** Measurement side of the benchmark: runs one workload against the
  * engine's public entry points and writes every raw sample (operation
  * spans, dispatch probes, streaming progress, trace spans) to
  * `<out>/raw.json`. `run.py` turns the samples into metrics and checks the
  * dumped outputs against the DuckDB oracles.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * data, out, cores; for query_mix and curation: queries (comma list),
  * pass_s; for calls_stream: rate, warm, watermark, tick_ms, bursts,
  * prewarm_s, prewarm_chunks, budget (seconds before the stream gives up). */
object Main {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  final case class Op(name: String, phase: String, start: Double, end: Double,
      ok: Boolean, hash: String, error: String, blocksLeft: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val spark = session(a("cores").toInt, a("trace") == "1", out)
    val run = new Run(spark, a)
    val fields = mutable.LinkedHashMap[String, String]()
    try {
      a("workload") match {
        case "query_mix" => run.board(fields, shuffle = true)
        case "curation" => run.board(fields, shuffle = false)
        case "calls_stream" => run.callsStream(fields)
        case w => sys.error(s"unknown workload $w")
      }
      if (a("trace") == "1") run.layerProbes(fields)
    } finally {
      fields("jvm_start_ms") = Trace.num(jvmStart)
      fields("cores") = a("cores")
      fields("ops") = run.opsJson
      fields("probes") = run.probes.map { case (k, v) =>
        s"""{"at":${Json.str(k)},"ms":${Trace.num(v)}}""" }.mkString("[", ",", "]")
      fields("spans") = Trace.json()
      fields("storage_peak_bytes") = Trace.storagePeak.toString
      val body = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\n", ",\n", "\n}\n")
      Files.write(Paths.get(out, "raw.json"), body.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  def session(cores: Int, trace: Boolean, out: String): SparkSession = {
    val b = GraftSession.builder("perfbench", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(out, "spark-local").toAbsolutePath.toString)
    if (trace) b
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .config("spark.extraListeners", classOf[JobListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(s)
    s
  }
}

final class Run(spark: SparkSession, a: Map[String, String]) {
  import Main.Op
  import Trace.nowMs

  private val sc = spark.sparkContext
  private val data = a("data")
  private val out = a("out")
  private val seconds = a("seconds").toDouble
  private val seed = a("seed").toLong
  private val traced = a("trace") == "1"

  val ops = mutable.ArrayBuffer[Op]()
  val probes = mutable.ArrayBuffer[(String, Double)]()

  // --- host health: the one-job RDD dispatch probe ----------------------
  private val calRdd = sc.parallelize(1 to 16, 1)
  (1 to 10).foreach(_ => calRdd.count()) // first dispatches are cold; not samples
  def probe(at: String): Unit = {
    val t0 = System.nanoTime()
    calRdd.count()
    probes += at -> (System.nanoTime() - t0) / 1e6
  }

  /** Live heap after a full collection, in MB. The second collection
    * follows Spark's context cleaner, which releases what the first one
    * found unreachable (broadcasts, shuffle state) asynchronously. It is
    * read while the workload's engine state is live and the harness holds
    * only fixed-size data (primitive arrays, spans, per-key hashes). */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private var seq = 0
  /** Runs one query-like operation: builds the frame through the engine's
    * public function, collects it, and hashes the canonical row set. The
    * warm execution also dumps its rows for the oracle check. */
  def runOp(name: String, phase: String)(build: => DataFrame): Op = {
    seq += 1
    val id = s"$name#$seq"
    sc.setLocalProperty(Trace.OpProperty, id)
    val t0 = nowMs()
    val op = try {
      val df = build
      val rows = df.collect()
      val t1 = nowMs()
      val hash = canonicalHash(rows)
      if (phase == "warm") warmResults += ((name, df.schema, rows))
      Op(id, phase, t0, t1, ok = true, hash, "", 0)
    } catch {
      case e: Throwable =>
        Op(id, phase, t0, nowMs(), ok = false, "", s"${e.getClass.getSimpleName}: ${e.getMessage}", 0)
    } finally sc.setLocalProperty(Trace.OpProperty, null)
    val done = op.copy(blocksLeft = sc.getPersistentRDDs.size)
    ops += done
    if (traced) Trace.add(Trace.Span(Trace.newId(), 0, id, "op", name, done.start, done.end,
      Map("blocks_left" -> done.blocksLeft.toDouble, "traced" -> (if (Trace.on) 1.0 else 0.0))))
    done
  }

  private def canonicalHash(rows: Array[Row]): String = {
    val lines = rows.map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update(10: Byte) }
    md.digest().map(b => f"$b%02x").mkString.take(16) + s":${rows.length}"
  }

  private val warmResults =
    mutable.ArrayBuffer[(String, org.apache.spark.sql.types.StructType, Array[Row])]()

  /** Writes each warm result as parquet for the oracle check — after the
    * timed phase, so it is in neither setup nor any timed operation. */
  private def dumpWarmResults(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = warmResults.toSeq.map { case (name, schema, rows) => Future {
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(Paths.get(out, "results", name).toString)
    } }
    Await.result(Future.sequence(writes), scala.concurrent.duration.Duration.Inf)
    warmResults.clear()
  }

  def opsJson: String = ops.map { o =>
    s"""{"name":${Json.str(o.name)},"phase":"${o.phase}","start":${Trace.num(o.start)},""" +
      s""""end":${Trace.num(o.end)},"ok":${o.ok},"hash":${Json.str(o.hash)},""" +
      s""""error":${Json.str(o.error)},"blocks_left":${o.blocksLeft}}"""
  }.mkString("[", ",\n", "]")

  private def oracles(names: Seq[String], fields: mutable.Map[String, String]): Unit =
    fields("oracle_sql") = names.map(n => s"${Json.str(n)}:${Json.str(SparkEntry.oracleSql(n))}")
      .mkString("{", ",", "}")

  /** Whole passes only, so every query runs equally often, and a fixed
    * number of them, so every run does the same work: `seconds` over the
    * workload's nominal pass time, rounded up. */
  private val passes = math.ceil(seconds / a.getOrElse("pass_s", "1").toDouble).toInt

  private def markMeasured(fields: mutable.Map[String, String], t0: Double, t1: Double): Unit = {
    fields("measure_start_ms") = Trace.num(t0)
    fields("measure_end_ms") = Trace.num(t1)
  }

  /** query_mix and curation: a closed loop with one client. One untimed
    * warm pass (which also builds served tables and dumps each result for
    * the oracle check), then the timed passes: in a seeded order per pass
    * when `shuffle`, else in the given order (the curation chain). In a
    * traced run every other timed operation is traced, so the difference
    * between the two sets is the tracing overhead. */
  def board(fields: mutable.Map[String, String], shuffle: Boolean): Unit = {
    val names = a("queries").split(',').toSeq
    val fns = SparkEntry.queries
    oracles(names, fields)
    probe("start")
    names.foreach(n => runOp(n, "warm")(fns(n)(spark, data)))
    probe("warm")
    val t0 = nowMs()
    val passSpans = (0 until passes).map { pass =>
      val order = if (shuffle) new scala.util.Random(seed * 1000 + pass).shuffle(names) else names
      val p0 = nowMs()
      order.zipWithIndex.foreach { case (n, i) =>
        Trace.on = traced && (pass * names.size + i) % 2 == 1
        runOp(n, "measure")(fns(n)(spark, data))
        probe("between")
      }
      s"[${Trace.num(p0)},${Trace.num(nowMs())}]"
    }
    Trace.on = false
    markMeasured(fields, t0, nowMs())
    fields("passes") = passSpans.mkString("[", ",", "]")
    probe("end")
    // the heap is read once the harness has written out and let go of the
    // warm results, so it holds the engine's state (served tables, cached
    // blocks, session) rather than the benchmark's
    dumpWarmResults()
    fields("live_heap_mb") = Trace.num(liveHeapMb())
  }

  // --- calls_stream: open-loop MemoryStream feed -------------------------
  def callsStream(fields: mutable.Map[String, String]): Unit = {
    import spark.implicits._
    val warm = a("warm").toDouble
    probe("start")
    val (tsUs, users, values) = loadEvents()
    val nEvents = tsUs.length
    val due = spark.read.parquet(s"$data/schedule.parquet").select("due_ms").as[Double].collect()
    val nTimed = math.min(nEvents, ((warm + seconds) * a("rate").toDouble).toInt)

    val progressListener = new ProgressListener
    spark.streams.addListener(progressListener)
    // numPartitions: the source folds all appended blocks into one input
    // partition per core, rather than one task per append
    val in = MemoryStream[Call](sc.defaultParallelism, spark)
    val agg = CallsStreamPipeline.aggregate(in.toDF(), watermark = a("watermark"))
    val cust = Tables.customer(spark, data)
    val enriched = CallsStreamPipeline.enriched(agg, cust,
      "c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal")
    // the last row emitted per (caller, window), folded in as each batch
    // arrives (foreachBatch runs them in order) and kept as 64-bit hashes
    val last = mutable.LongMap[Long]()
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      last.synchronized(rows.foreach(r => last(keyHash(r)) = hash64(r.toString)))
    }
    val query = enriched.writeStream.outputMode("update")
      .option("checkpointLocation", Paths.get(out, "checkpoints", "calls").toString)
      .foreachBatch(sink).start()

    // chunk = (first event, end event, source offset, wall ms when added)
    val chunks = mutable.ArrayBuffer[(Int, Int, Long, Double)]()
    def addChunk(from: Int, until: Int): Long = {
      val calls = (from until until).map { k =>
        val ts = new Timestamp(Math.floorDiv(tsUs(k), 1000L))
        ts.setNanos((Math.floorMod(tsUs(k), 1000000L) * 1000L).toInt)
        Call(ts, users(k), values(k))
      }
      val off = in.addData(calls).json().trim.toLong
      chunks += ((from, until, off, nowMs()))
      off
    }
    val giveUp = nowMs() + a("budget").toDouble * 1000
    def awaitOffset(off: Long): Unit =
      while (!Trace.progress.asScala.exists(_.endOffset >= off) && query.isActive &&
          nowMs() < giveUp) Thread.sleep(2)

    // pre-warm: the first events of the schedule go in as a few appends,
    // each awaited, so the cold first batches run before the open loop
    // starts rather than piling up its first seconds behind them
    val warmChunks = a("prewarm_chunks").toInt
    val warmEvents = math.min(nTimed, (a("prewarm_s").toDouble * a("rate").toDouble).toInt)
    (0 until warmChunks).foreach { c =>
      awaitOffset(addChunk(c * warmEvents / warmChunks, (c + 1) * warmEvents / warmChunks))
    }

    // one generator thread: adds every event whose due time has passed; the
    // clock starts so that the first event after the pre-warm is due now
    val t0 = nowMs() - (if (warmEvents < nTimed) due(warmEvents) else 0.0)
    fields("stream_t0_ms") = Trace.num(t0)
    var i = warmEvents
    var measureStart = 0.0
    val tickMs = a("tick_ms").toLong
    while (i < nTimed && query.isActive) {
      val now = nowMs() - t0
      var j = i
      while (j < nTimed && due(j) <= now) j += 1
      if (j > i) { addChunk(i, j); i = j }
      // appends are at most every `tick` ms: each append is one source block
      Thread.sleep(tickMs)
      if (measureStart == 0.0 && now >= warm * 1000) measureStart = nowMs()
      if (traced && !Trace.on && now >= (warm + seconds / 2) * 1000) {
        Trace.on = true
        fields("trace_on_ms") = Trace.num(nowMs())
      }
    }
    val measureEnd = nowMs()
    val lastTimed = if (chunks.nonEmpty) chunks.last._3 else 0L
    awaitOffset(lastTimed)
    Trace.on = false
    probe("measured")

    // saturation probe: the rest of the schedule offered in `bursts` equal
    // appends, each once the stream has taken the previous one
    val nBursts = a("bursts").toInt
    val burstFrom = nTimed
    val per = (nEvents - burstFrom) / math.max(1, nBursts)
    val bursts = (0 until nBursts).filter(_ => per > 0).map { b =>
      val from = burstFrom + b * per
      val off = addChunk(from, from + per)
      awaitOffset(off)
      probe("burst")
      off
    }
    if (nowMs() < giveUp) query.processAllAvailable()
    // read while the query, its state store and its source are still live
    fields("live_heap_mb") = Trace.num(liveHeapMb())
    val err = query.exception.map(_.toString).getOrElse("")
    query.stop()
    spark.streams.removeListener(progressListener)
    fields("measure_start_ms") = Trace.num(measureStart)
    fields("measure_end_ms") = Trace.num(measureEnd)
    fields("bursts") = s"""{"from":$burstFrom,"rows":$per,"offsets":${bursts.mkString("[", ",", "]")}}"""
    fields("chunks") = chunks.map { case (f, u, o, t) => s"[$f,$u,$o,${Trace.num(t)}]" }
      .mkString("[", ",", "]")
    fields("progress") = Trace.progress.asScala.toSeq.sortBy(_.batchId).map { p =>
      val d = p.durations.map { case (k, v) => s""""$k":${Trace.num(v)}""" }.mkString("{", ",", "}")
      s"""{"batch":${p.batchId},"start":${Trace.num(p.start)},"end":${Trace.num(p.end)},""" +
        s""""end_offset":${p.endOffset},"rows":${p.rows},"durations":$d,""" +
        s""""state_rows":${p.stateRows},"state_bytes":${p.stateBytes},""" +
        s""""state_commit_ms":${Trace.num(p.stateCommitMs)},"dropped":${p.droppedByWatermark}}"""
    }.mkString("[", ",\n", "]")
    probe("end")

    // check: the last row emitted per (caller, window) equals the batch
    // pipeline's row over the same events
    val expected = CallsPipeline.callsEnriched(spark, data).collect()
      .map(r => keyHash(r) -> r.toString).toMap
    val keys = expected.keySet ++ last.keySet
    def differs(k: Long) = expected.get(k).map(hash64) != last.get(k)
    val bad = keys.count(differs)
    val sample = keys.find(differs).map { k =>
      expected.get(k).map(e => s"batch row $e: stream row " +
        (if (last.contains(k)) "differs" else "missing")).getOrElse("stream row the batch lacks")
    }.getOrElse("")
    fields("stream_check") = s"""{"keys":${keys.size},"mismatched":$bad,"error":${Json.str(err)},""" +
      s""""events":$nEvents,"sample":${Json.str(sample)}}"""
  }

  /** The generated events in event-id order as primitive arrays (event
    * time in microseconds, caller, value), so the harness holds little of
    * the heap it measures. */
  private def loadEvents(): (Array[Long], Array[Long], Array[Double]) = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$data/events.parquet").orderBy("event_id")
      .select(expr("unix_micros(CAST(ts AS TIMESTAMP))"), col("user_id"), col("value")).as[(Long, Long, Double)]
      .collect()
    (rows.map(_._1), rows.map(_._2), rows.map(_._3))
  }

  private def keyHash(r: Row): Long =
    hash64(r.getAs[String]("id_telef_origen") + "|" + r.getAs[String]("window_start_ts"))

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0xb10b).toLong & 0xffffffffL)
  }

  // --- layer probes of a traced run: kernels and operators alone --------
  def layerProbes(fields: mutable.Map[String, String]): Unit = {
    import spark.implicits._
    val docs = Tables.documents(spark, data).select("doc_id", "text", "source", "n_chars")
    val emb = Tables.embeddings(spark, data)
    val sliceRows = 20000
    val texts = docs.select("text").as[String].collect()
    val slice = (0 until sliceRows).map(i => texts(i % texts.length)).toDF("text")
      .repartition(sc.defaultParallelism).cache()
    slice.count()
    val vecs = emb.select("embedding").as[Array[Float]].collect()
    val vslice = (0 until sliceRows).map(i => vecs(i % vecs.length)).toDF("embedding")
      .repartition(sc.defaultParallelism).cache()
    vslice.count()
    val rnd = new scala.util.Random(seed)
    val book = Seq.fill(16)(Array.fill(8)(rnd.nextGaussian() * 0.1))
    val kernels = Seq[(String, DataFrame, org.apache.spark.sql.Column)](
      ("tokens", slice, TextFunctions.tokens(col("text"))),
      ("shingle_hashes", slice, TextExpressions.shingleHashes(col("text"), 3)),
      ("minhash_sig", slice, TextExpressions.minhashSig(col("text"), 3, 12)),
      ("simhash32", slice, TextFunctions.simhash32(col("text"))),
      ("scrub_pii", slice, TextFunctions.scrubPii(col("text"))),
      ("quality_score", slice, TextFunctions.qualityScore(col("text"))),
      ("dot", vslice, VectorExpressions.dotFF(col("embedding"), col("embedding"))),
      ("pq_assign", vslice, VectorExpressions.pqAssign(col("embedding"), book, 0)))
    // ns per row of a noop write of the kernel column over the cached slice
    // (median of three), scan and job dispatch included
    val k = kernels.map { case (name, df, c) =>
      val ns = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.select(c.as("k")).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0).toDouble / sliceRows
      }.sorted.apply(1)
      s""""$name":${Trace.num(ns)}"""
    }
    slice.unpersist(); vslice.unpersist()
    fields("kernels_ns_row") = k.mkString("{", ",", "}")

    def timed(name: String)(df: => DataFrame): String = {
      def once() = { val t0 = System.nanoTime(); df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9 }
      once()
      s""""$name":${Trace.num(once())}"""
    }
    val pairs = Dedup.minhashLshPairs(docs).cache()
    val comps = Dedup.components(docs, pairs).cache()
    val corpus = docs.filter(col("doc_id") >= 250)
    val batch = docs.filter(col("doc_id") < 250).select((col("doc_id") + 10000000L).as("doc_id"),
      col("text"), col("source"))
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val o = Seq(
      timed("minhash_lsh_pairs")(Dedup.minhashLshPairs(docs)),
      timed("components")(Dedup.components(docs, pairs)),
      timed("dedup_by_components")(Dedup.dedupCorpusByComponents(docs, comps, col("n_chars"))),
      timed("contamination_pairs")(Dedup.contaminationPairs(corpus, evalDocs)),
      timed("dedup_delta")(Dedup.dedupDelta(corpus, batch)))
    pairs.unpersist(); comps.unpersist()
    fields("operators_s") = o.mkString("{", ",", "}")
  }
}
