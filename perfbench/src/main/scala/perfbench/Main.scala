package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry}
import graft.ops.Search
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one fresh JVM: boot the engine's session, warm
  * up, run the workload's operations in a closed loop (one client
  * thread) in whole rounds until the run length has passed, then write
  * every distinct answer and a record of the run for perfbench/run.py,
  * which checks the answers and turns the record into metrics.
  *
  * Usage: perfbench.Main <spec.json>. The spec (written by run.py)
  * names the workload, the input directory, the run's own work
  * directory, the run length, the trace switch and the workload's
  * generated operations. */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Longest wait for the JIT to settle after the warm-up. */
  private val JitDrainMaxMs = 10000L

  /** One timed operation. Times are epoch milliseconds except
    * `latencyMs`, which comes from the monotonic clock. */
  final case class Op(tag: String, round: Int, kind: String, key: String,
      startMs: Long, buildEndMs: Long, endMs: Long, latencyMs: Double,
      rows: Long, answer: Int, error: String,
      pinnedRdds: Int = 0, pinnedBytes: Long = 0L)

  final case class Round(round: Int, startMs: Long, endMs: Long,
      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val spec = json.readTree(new File(args(0)))
    if (spec.get("workload").asText == "sql") return writeSql(spec.get("work").asText)
    val run = new Run(spec)
    try run.execute() finally run.spark.stop()
  }

  /** The SQL the checks run in DuckDB, taken from the engine: the
    * declared oracle statements, the web_pages derivation the listing
    * template builds on, and the featurizer's CTE chain. */
  private def sqlTexts: Map[String, Any] = Map(
    "oracle_sql" -> SparkEntry.oracleSql,
    "web_pages_cte" -> graft.Corpus.webPagesCte,
    "featurize_sql" -> graft.functions.Embeddings.featurizeCtes("items", "k", "txt",
      dims = graft.functions.Embeddings.ModelDims, prefix = "x"))

  private def writeSql(work: String): Unit =
    Files.writeString(Paths.get(s"$work/record.json"), json.writeValueAsString(sqlTexts))

  private final class Run(spec: JsonNode) {
    val workload: String = spec.get("workload").asText
    val data: String = spec.get("data").asText
    val work: String = spec.get("work").asText
    val seconds: Double = spec.get("seconds").asDouble
    val trace: Boolean = spec.get("trace").asBoolean
    val cores: Int = spec.get("cores").asInt
    val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

    private val bootStart = System.currentTimeMillis()
    val spark: SparkSession = GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    private val bootMs = System.currentTimeMillis() - bootStart
    private val sc = spark.sparkContext
    private val tracer = if (trace) Some(Tracer.install(spark)) else None

    private val ops = mutable.ArrayBuffer.empty[Op]
    /** Operations started, warm-up included: each gets its own trace tag. */
    private var calls = 0
    private val rounds = mutable.ArrayBuffer.empty[Round]
    /** (operation key, answer digest) → answer id; the first answer of
      * each id is kept to be written out. */
    private val answerIds = mutable.LinkedHashMap.empty[(String, String), Int]
    private val answerRows = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]

    private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    private def gc: (Long, Long) = {
      val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
    }

    /** Wait, at most JitDrainMaxMs, until the JIT's accumulated compile
      * time has stopped growing for three polls in a row, as graft.BenchOne
      * does between reps, so that the first timed round does not run while
      * the warm-up's code is still being compiled. Returns the wait in ms;
      * it counts in set-up. */
    private def drainJit(): Long = {
      val start = System.nanoTime()
      val deadline = start + JitDrainMaxMs * 1000000L
      var last = jitMs
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = jitMs
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      (System.nanoTime() - start) / 1000000L
    }

    /** Order-free digest of an answer: its schema and its rows' string
      * forms, sorted. */
    private def digest(schema: StructType, rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(schema.json.getBytes("UTF-8"))
      rows.map(_.toString).sorted.foreach { s =>
        md.update(s.getBytes("UTF-8")); md.update(0: Byte)
      }
      md.digest().map("%02x".format(_)).mkString
    }

    private def answerOf(key: String, schema: StructType, rows: Array[Row]): Int =
      answerIds.getOrElseUpdate((key, digest(schema, rows)), {
        answerRows += ((key, schema, rows))
        answerRows.size - 1
      })

    /** Persisted RDDs and their stored bytes, as the block manager
      * reports them: the pins an operation left behind. */
    private def storage(): (Int, Long) = {
      val infos = sc.getRDDStorageInfo
      (infos.count(_.numCachedPartitions > 0), infos.map(i => i.memSize + i.diskSize).sum)
    }

    /** Run one request or job: build its DataFrame through the
      * engine's public function, collect every row, then drop the
      * session's pins as graft.Bench and graft.Verify do between queries.
      * Only build + collect is the operation's latency. */
    private def operation(round: Int, kind: String, key: String, record: Boolean)
        (build: => DataFrame): Unit = {
      calls += 1
      val tag = s"o$calls"
      if (trace) sc.setLocalProperty(Tracer.OpKey, tag)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outcome =
        try {
          val df = build
          val buildEndMs = System.currentTimeMillis()
          val rows = df.collect()
          Right((df.schema, rows, buildEndMs))
        } catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val (pinned, pinnedBytes) = if (trace) storage() else (0, 0L)
      GraftSession.scrub(spark)
      if (trace) sc.setLocalProperty(Tracer.OpKey, null)
      if (record) ops += (outcome match {
        case Right((schema, rows, buildEndMs)) =>
          Op(tag, round, kind, key, startMs, buildEndMs, endMs, (t1 - t0) / 1e6,
            rows.length.toLong, answerOf(key, schema, rows), null, pinned, pinnedBytes)
        case Left(e) =>
          System.err.println(s"[perfbench] $key failed: $e")
          Op(tag, round, kind, key, startMs, endMs, endMs, (t1 - t0) / 1e6,
            0L, -1, String.valueOf(e.getMessage).take(500), pinned, pinnedBytes)
      })
    }

    // ---- serve: a seeded stream of serving requests -------------------

    private def request(r: JsonNode): DataFrame =
      if (r.has("query")) SparkEntry.queries(r.get("query").asText)(spark, data)
      else {
        val l = r.get("listing")
        Search.listingPage(spark, data, l.get("term").asText, l.get("sort").asText,
          l.get("asc").asBoolean, l.get("offset").asInt, l.get("limit").asInt)
      }

    private def serveRound(list: JsonNode, round: Int, record: Boolean): Unit = {
      val start = System.currentTimeMillis()
      list.elements.asScala.foreach { r =>
        val kind = if (r.has("query")) r.get("query").asText else "listing"
        operation(round, kind, r.get("key").asText, record)(request(r))
      }
      if (record) rounds += Round(round, start, System.currentTimeMillis())
    }

    // ---- curate: a fixed pass over the heavy curation jobs ------------

    private def curatePass(jobs: Seq[String], round: Int, record: Boolean): Unit = {
      val start = System.currentTimeMillis()
      jobs.foreach(j => operation(round, j, j, record)(SparkEntry.queries(j)(spark, data)))
      if (record) rounds += Round(round, start, System.currentTimeMillis())
    }

    // ---- ingest: drain a staged backlog through Ingest.run ------------

    private lazy val backfillCorpus: String = {
      val ing = spec.get("ingest")
      val items = spark.read.parquet(ing.get("backfill").asText)
      val stamped = Ingest.transformBatch(items,
        new java.sql.Timestamp(ing.get("backfill_stamp_ms").asLong))
      val dir = s"$work/ingest/backfill_corpus"
      Ingest.upsertInto(stamped.limit(0), stamped).write.parquet(dir)
      dir
    }

    private def copyDir(from: String, to: String): Unit = {
      val src = Paths.get(from)
      Files.walk(src).iterator.asScala.foreach { p =>
        val dst = Paths.get(to).resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
      }
    }

    /** One round: a fresh copy of the backfilled corpus and a fresh
      * checkpoint, then one trigger per staged file until the backlog
      * is drained. Each data trigger is one operation, timed by the
      * stream's own `triggerExecution`. */
    private def ingestRound(backlog: String, round: Int, record: Boolean): Unit = {
      val tag = if (record) s"r$round" else s"w$round"
      val corpus = s"$work/ingest/corpus_$tag"
      copyDir(backfillCorpus, corpus)
      if (trace) sc.setLocalProperty(Tracer.OpKey, tag)
      val schema = spark.read.parquet(spec.get("ingest").get("backfill").asText).schema
      val source = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(backlog)
      val start = System.currentTimeMillis()
      val q = Ingest.run(spark, source, corpus, s"$work/ingest/ckpt_$tag")
      try q.processAllAvailable() finally q.stop()
      val end = System.currentTimeMillis()
      val (pinned, pinnedBytes) = if (trace) storage() else (0, 0L)
      if (trace) sc.setLocalProperty(Tracer.OpKey, null)
      GraftSession.scrub(spark)
      if (q.exception.isDefined) throw q.exception.get
      if (!record) return
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      batches.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.get("triggerExecution").longValue
        ops += Op(s"$tag/b${p.batchId}", round, "trigger", s"b${p.batchId}", s, s, s + d,
          d.toDouble, p.numInputRows, -1, null, pinned, pinnedBytes)
      }
      val first = batches.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).min
      val last = batches.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue).max
      rounds += Round(round, start, end, Map("corpus" -> corpus,
        "run_id" -> q.runId.toString, "drain_ms" -> (last - first)))
    }

    // ---- the run -------------------------------------------------------

    def execute(): Unit = {
      val warmStart = System.currentTimeMillis()
      val jitBoot = jitMs
      val step: (Int, Boolean) => Unit = workload match {
        case "serve" =>
          val round = spec.get("serve").get("round")
          val warm = spec.get("serve").get("warmup")
          (r, rec) => serveRound(if (rec) round else warm, r, rec)
        case "curate" =>
          val jobs = spec.get("curate").get("jobs").elements.asScala.map(_.asText).toSeq
          (r, rec) => curatePass(jobs, r, rec)
        case "ingest" =>
          val ing = spec.get("ingest")
          val backlog = ing.get("backlog").asText
          val warm = ing.get("warmup_backlog").asText
          (r, rec) => ingestRound(if (rec) backlog else warm, r, rec)
        case other => sys.error(s"unknown workload $other")
      }
      step(0, false)
      val drainMs = drainJit()
      val warmupMs = System.currentTimeMillis() - warmStart
      val jitWarm = jitMs - jitBoot

      val timedStart = System.currentTimeMillis()
      val jit0 = jitMs
      val (gcMs0, gcN0) = gc
      val t0 = System.nanoTime()
      var round = 0
      while (round == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        step(round, true)
        round += 1
      }
      val timedEnd = System.currentTimeMillis()
      val timedS = (System.nanoTime() - t0) / 1e9
      val jitTimed = jitMs - jit0
      val (gcMs1, gcN1) = gc

      val spans = tracer.map { t =>
        org.apache.spark.perfbench.Bus.drain(sc)
        (t.snapshot(), t.progress.toSeq)
      }

      // Answers are written after the timed phase, one parquet dir each.
      val answers = answerRows.zipWithIndex.map { case ((key, schema, rows), id) =>
        val dir = s"$work/answers/a$id"
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(dir)
        Map("id" -> id, "key" -> key, "dir" -> dir)
      }

      // CPU calibration as in graft.Bench: a fixed hash-sum job, timed on
      // its second execution so codegen and JIT of the first do not count
      val calibS = (1 to 2).map { _ =>
        val t = System.nanoTime()
        spark.range(0L, 20000000L, 1L, cores).selectExpr("sum(hash(id))").collect()
        (System.nanoTime() - t) / 1e9
      }.last

      val record = mutable.LinkedHashMap[String, Any](
        "workload" -> workload,
        "jvm_start_ms" -> jvmStartMs,
        "boot_ms" -> bootMs,
        "warmup_ms" -> warmupMs,
        "setup_s" -> (timedStart - jvmStartMs) / 1000.0,
        "timed_start_ms" -> timedStart,
        "timed_end_ms" -> timedEnd,
        "timed_s" -> timedS,
        "jit_warmup_ms" -> jitWarm,
        "jit_drain_ms" -> drainMs,
        "jit_timed_ms" -> jitTimed,
        "gc_timed_ms" -> (gcMs1 - gcMs0),
        "gc_timed_count" -> (gcN1 - gcN0),
        "calib_s" -> calibS,
        "load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
        "cores" -> cores,
        "peak_rss_kb" -> vmHwmKb,
        "ops" -> ops.map(opJson),
        "rounds" -> rounds.map(r => Map("round" -> r.round, "start_ms" -> r.startMs,
          "end_ms" -> r.endMs) ++ r.extra),
        "answers" -> answers) ++ sqlTexts
      spans.foreach { case (counters, progress) =>
        record("trace") = Map(
          "ops" -> counters.map { case (k, c) => k -> countersJson(c) },
          "progress" -> progress.map(e => json.readTree(e.progress.json)))
      }
      Files.writeString(Paths.get(s"$work/record.json"), json.writeValueAsString(record))
    }

    private def opJson(o: Op): Map[String, Any] = Map(
      "tag" -> o.tag, "round" -> o.round, "kind" -> o.kind, "key" -> o.key,
      "start_ms" -> o.startMs, "build_end_ms" -> o.buildEndMs, "end_ms" -> o.endMs,
      "latency_ms" -> o.latencyMs, "rows" -> o.rows, "answer" -> o.answer,
      "error" -> o.error, "pinned_rdds" -> o.pinnedRdds, "pinned_bytes" -> o.pinnedBytes)

    private def countersJson(c: OpCounters): Map[String, Any] = Map(
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuMs,
      "input_bytes" -> c.inputBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_wait_ms" -> c.shuffleWaitMs,
      "spill_bytes" -> c.spillBytes, "output_records" -> c.outputRecords,
      "output_bytes" -> c.outputBytes, "analysis_ms" -> c.analysisMs,
      "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
      "job_spans" -> c.jobSpans.map { case (id, s, e) => Seq(id, s, e) })

    /** Peak resident set of this JVM (Linux VmHWM), in kB. */
    private def vmHwmKb: Long = {
      val status = Paths.get("/proc/self/status")
      if (!Files.exists(status)) -1L
      else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    }
  }
}
