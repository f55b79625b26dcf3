package pipebench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.apps.DailyAnalytics
import graft.operators.{Analytics, EventOps}
import graft.scale.{Dedup, TrainingData}
import graft.sources.Tables
import graft.streaming.LiveScores

/** Replies are compared by content: each row as Spark's JSON rendering,
  * rows sorted, hashed. Every distinct (request, reply hash) is written
  * once with its rows for the runner's DuckDB check. */
private final class ReplyLog(file: File) {
  private val out = new PrintWriter(file, StandardCharsets.UTF_8)
  private val written = mutable.Set[(String, String)]()

  def hashOf(key: String, rows: Array[Row]): String = synchronized {
    val lines = rows.map(_.json).sorted
    val h = Main.sha256(lines.mkString("\n"))
    if (written.add((key, h)))
      Main.appendLine(out, Json.obj("key" -> key, "hash" -> h, "rows" -> Json.Raw(Json.arr(lines.toSeq))))
    h
  }

  def close(): Unit = out.close()
}

/** Run `body` over `items` on a pool of `threads`; rethrows the first failure. */
private object Parallel {
  def apply[A](threads: Int, items: Seq[A])(body: A => Any): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    val task = (a: A) => new java.util.concurrent.Callable[Unit] { def call(): Unit = body(a) }
    try items.map(a => pool.submit(task(a))).foreach(_.get())
    finally pool.shutdown()
  }
}

/** Split the measured time. A traced run measures three phases of a third
  * each, untraced, traced, untraced, so a steady drift over the run
  * (warm-up, state growth) cancels out of the traced phase's difference
  * from the two around it: the trace cost. The trace rides on the last
  * phase. */
private object Phases {
  def apply(c: Main.Conf)(phase: (Double, Option[Tracer]) => String)(implicit spark: SparkSession): Seq[String] =
    if (!c.trace) Seq(phase(c.seconds, None))
    else {
      val t = new Tracer(spark)
      val first = phase(c.seconds / 3, None)
      t.attach()
      val traced = try phase(c.seconds / 3, Some(t)) finally t.detach()
      val last = phase(c.seconds / 3, None)
      Seq(first, traced, Json.plus(last, "trace" -> t.toJson))
    }
}

/** Closed loop, one client: API-shaped requests, each collected to the
  * driver as a reply would be. */
final class ApiMix(c: Main.Conf) extends Workload {
  private val plan: IndexedSeq[(String, Long)] =
    c.plan.get("requests").elements().asScala.map(n => (n.get(0).asText, n.get(1).asLong)).toIndexedSeq
  /** The plan's mix is exact per block; a phase always ends on a block
    * boundary so every run sees the same mix. */
  private val block = c.plan.get("block").asInt
  private val replies = new ReplyLog(c.file("replies.jsonl"))

  private def frame(spark: SparkSession, kind: String, id: Long): DataFrame = kind match {
    case "recent_form" => Analytics.recentForm(spark, c.data).filter(col("o_custkey") === id)
    case "form_string" => Analytics.formString(spark, c.data).filter(col("o_custkey") === id)
    case "nation_pair_trade" => Analytics.nationPairTrade(spark, c.data)
      .filter(col("nation_lo") === id || col("nation_hi") === id)
    case "latest_event" => EventOps.latestEventPerUser(spark, c.data).filter(col("user_id") === id)
    case "nation_revenue_standings" => Analytics.nationRevenueStandings(spark, c.data)
    case "top_spenders" => Analytics.topSpenders(spark, c.data)
    case "top_orders_per_priority" => Analytics.topOrdersPerPriority(spark, c.data)
  }

  private def call(spark: SparkSession, kind: String, id: Long, op: String,
                   tracer: Option[Tracer]): (Int, String) = {
    def sp[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name, op)(body))
    sp(s"api.$kind") {
      val df = sp("operators.build")(frame(spark, kind, id))
      val rows = sp("exec.collect")(df.collect())
      (rows.length, replies.hashOf(s"$kind/$id", rows))
    }
  }

  /** One request of each kind, with the first id the plan uses for it,
    * on up to `cores` threads. */
  override def setUp(spark: SparkSession): Unit =
    Parallel(c.cores, plan.groupBy(_._1).values.map(_.head).toSeq.sortBy(_._1)) { case (k, id) =>
      call(spark, k, id, "warmup", None)
    }

  override def measure(spark: SparkSession): Seq[String] =
    Phases(c) { (seconds, tracer) =>
      val out = mutable.ArrayBuffer[String]()
      val t0 = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds || i % block != 0) {
        val (kind, id) = plan(i % plan.size)
        val op = s"req:$i"
        tracer.foreach(_ => Tracer.setOp(spark, op))
        val s = System.nanoTime()
        val (n, h, err) =
          try { val (n, h) = call(spark, kind, id, op, tracer); (n, h, "") }
          catch { case e: Exception => (0, "", String.valueOf(e.getMessage)) }
        val latMs = (System.nanoTime() - s) / 1e6
        out += Json.arr(Seq(Json.str(kind), id.toString, latMs.toString, n.toString, Json.str(h), Json.str(err)))
        i += 1
      }
      Tracer.setOp(spark, null)
      Json.obj("traced" -> tracer.isDefined, "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "requests" -> Json.Raw(Json.arr(out.toSeq)))
    }(spark)

  override def extra(spark: SparkSession): String = { replies.close(); "{}" }
}

/** Open loop: a generator thread drops live-score snapshot files into the
  * input directory of `LiveScores.run` on a fixed schedule, each row
  * stamped with its drop's due time (or earlier, for out-of-order rows). */
final class LiveIngest(c: Main.Conf) extends Workload {
  /** Trigger interval of the stream under test: zero runs micro-batches
    * back to back, so freshness follows batch duration. (A 1 s interval
    * sits right at the batch duration here, where freshness jumps between
    * waiting for the next trigger and not.) */
  val Interval = "0 seconds"

  private val root = c.file("live")
  private val inDir = new File(root, "in")
  private val staging = new File(root, "staging")
  private val tableDir = new File(root, "table")
  private val ckptDir = new File(root, "checkpoint")
  private val matches = c.plan.get("matches").elements().asScala.map { m =>
    (m.get(0).asText, m.get(1).asText, m.get(2).asText)
  }.toIndexedSeq
  private val drops = c.plan.get("drops").elements().asScala.toIndexedSeq
  private var query: StreamingQuery = _
  private var nextDrop = 0
  private var rowsDropped = 0L
  // (match, scraped_at) -> row: keeps rows that tie on the upsert version
  // identical even across phases, whose schedules are re-based in time.
  private val issued = mutable.Map[(Int, Long), String]()

  private def rowJson(m: Int, stampMs: Long, score: String, status: String, time: String): String =
    issued.getOrElseUpdate((m, stampMs), {
      val (home, away, source) = matches(m)
      Json.obj("home_team" -> home, "away_team" -> away, "score_text" -> score,
        "status_text" -> status, "match_time" -> time, "source" -> source,
        "scraped_at" -> Instant.ofEpochMilli(stampMs).toString)
    })

  /** Write a snapshot file beside the input dir, then move it in, so the
    * stream never lists a partial file. Returns its size in bytes. */
  private def drop(name: String, rows: Seq[String]): Long = {
    val tmp = new File(staging, name)
    Main.write(tmp, rows.mkString("", "\n", "\n"))
    val size = tmp.length()
    Files.move(tmp.toPath, new File(inDir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    rowsDropped += rows.size
    size
  }

  private def committedRows: Long = query.recentProgress.map(_.numInputRows).sum

  private def awaitCommitted(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committedRows < rowsDropped && System.currentTimeMillis() < deadline) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(20)
    }
    committedRows >= rowsDropped
  }

  override def setUp(spark: SparkSession): Unit = {
    Main.deleteTree(root)
    Seq(inDir, staging).foreach(_.mkdirs())
    issued.clear()
    rowsDropped = 0
    query = LiveScores.run(spark, inDir.getPath, tableDir.getPath, ckptDir.getPath, Interval)
    val now = System.currentTimeMillis()
    val warm = c.plan.get("warm").elements().asScala.map { r =>
      rowJson(r.get(0).asInt, now + r.get(1).asLong, r.get(2).asText, r.get(3).asText, r.get(4).asText)
    }.toSeq
    drop("warmup.json", warm)
    if (!awaitCommitted(120000)) throw new IllegalStateException("warm-up snapshot not committed")
  }

  override def tearDown(): Unit = if (query != null) { query.stop(); query = null }

  override def measure(spark: SparkSession): Seq[String] = {
    val phases = Phases(c) { (seconds, tracer) =>
      val intervalMs = drops(1).get("due_ms").asLong - drops(0).get("due_ms").asLong
      val slice = drops.slice(nextDrop, nextDrop + math.max(1, (seconds * 1000 / intervalMs).toInt))
      val first = nextDrop
      nextDrop += slice.size
      val base = System.currentTimeMillis() + 100 - slice.head.get("due_ms").asLong
      val log = mutable.ArrayBuffer[String]()
      val gen = new Thread(() => slice.zipWithIndex.foreach { case (d, k) =>
        val due = base + d.get("due_ms").asLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val rows = d.get("rows").elements().asScala.map { r =>
          rowJson(r.get(0).asInt, due + r.get(1).asLong, r.get(2).asText, r.get(3).asText, r.get(4).asText)
        }.toSeq
        val name = f"drop-${first + k}%06d.json"
        val bytes = drop(name, rows)
        log += Json.arr(Seq(Json.str(name), due.toString, System.currentTimeMillis().toString,
          rows.size.toString, bytes.toString))
      }, "pipebench-generator")
      gen.start()
      gen.join()
      awaitCommitted(60000)
      Json.obj("traced" -> tracer.isDefined,
        "wall_s" -> (System.currentTimeMillis() - (base + slice.head.get("due_ms").asLong)) / 1e3,
        "drops" -> Json.Raw(Json.arr(log.toSeq)))
    }(spark)
    // Progress of every micro-batch so far, for the freshness join.
    val progress = query.recentProgress.map(_.json).toSeq
    phases.map(p => Json.plus(p, "progress" -> Json.arr(progress)))
  }

  override def extra(spark: SparkSession): String = {
    val paths = Json.obj("input" -> inDir.getPath, "table" -> tableDir.getPath,
      "checkpoint" -> ckptDir.getPath)
    if (!c.trace) return paths
    // functions layer: normalisation alone, over every dropped row as one
    // batch frame (noop sink, so no column is pruned away).
    val raw = spark.read.schema(LiveScores.RawSchema).json(inDir.getPath).cache()
    val rows = raw.count()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      LiveScores.normalize(raw).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    raw.unpersist()
    val stateFiles = Option(tableDir.listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.endsWith(".parquet"))
    Json.plus(paths, "normalize_rows" -> rows.toString, "normalize_s" -> Json.value(times),
      "state_files" -> stateFiles.toString)
  }
}

/** The 02:00 job: `DailyAnalytics.run` then `TrainingData.curationPipeline`,
  * as one pass. */
final class NightlyBatch(c: Main.Conf) extends Workload {
  private val curation = new ReplyLog(c.file("curation.jsonl"))
  private var passNo = 0

  private def pass(spark: SparkSession, tracer: Option[Tracer]): String = {
    val op = s"pass:$passNo"
    passNo += 1
    def sp[T](name: String, sub: String)(body: => T): T = {
      tracer.foreach(_ => Tracer.setOp(spark, s"$op/$sub"))
      tracer.fold(body)(_.span(name, s"$op/$sub")(body))
    }
    val t0 = System.nanoTime()
    val run = () => {
      val stages = sp("apps.DailyAnalytics.run", "daily")(DailyAnalytics.run(spark, c.data))
      val t1 = System.nanoTime()
      val (hash, n, err) =
        try {
          val rows = sp("scale.TrainingData.curationPipeline", "curation") {
            val df = sp("scale.build", "curation")(TrainingData.curationPipeline(spark, c.data))
            sp("exec.collect", "curation")(df.collect())
          }
          (curation.hashOf("curation", rows), rows.length, "")
        } catch { case e: Exception => ("", 0, String.valueOf(e.getMessage)) }
      (stages, (System.nanoTime() - t1) / 1e6, hash, n, err)
    }
    val (stages, curMs, hash, curRows, err) = tracer.fold(run())(_.span("nightly.pass", op)(run()))
    val wallMs = (System.nanoTime() - t0) / 1e6
    Tracer.setOp(spark, null)
    Json.obj("wall_ms" -> wallMs, "curation_ms" -> curMs, "curation_hash" -> hash,
      "curation_rows" -> curRows, "curation_error" -> err,
      "stages" -> Json.Raw(Json.arr(stages.map(s => Json.obj("stage" -> s.stage, "status" -> s.status,
        "items" -> s.items, "seconds" -> s.durationSeconds, "error" -> s.error)))))
  }

  /** Ready = every corpus table opened and scanned once. */
  override def setUp(spark: SparkSession): Unit =
    Parallel(c.cores, new File(c.data).list().filter(_.endsWith(".parquet")).sorted.toSeq) { f =>
      Tables.load(spark, c.data, f.stripSuffix(".parquet")).count()
    }

  /** One pass, as the job runs once per process. A traced run follows it
    * with a traced and an untraced pass on the warm process (a third warm
    * pass would not fit the run's time limit on a slow host). */
  override def measure(spark: SparkSession): Seq[String] = {
    def phase(tracer: Option[Tracer]) =
      Json.obj("traced" -> tracer.isDefined, "passes" -> Json.Raw(Json.arr(Seq(pass(spark, tracer)))))
    val cold = phase(None)
    if (!c.trace) return Seq(cold)
    val t = new Tracer(spark)
    t.attach()
    val traced = try phase(Some(t)) finally t.detach()
    Seq(cold, traced, Json.plus(phase(None), "trace" -> t.toJson))
  }

  override def extra(spark: SparkSession): String = try {
    if (!c.trace) return "{}"
    def timed(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
    val nearDupMs = timed(Dedup.nonCanonicalDocs(spark, c.data).collect())
    val contaminationMs = timed(TrainingData.contamination(spark, c.data).collect())
    // Single-core baseline: the same pass on a fresh local[1] session.
    spark.stop()
    val one = GraftSession.local(1)
    val single = pass(one, None)
    Json.obj("near_dup_ms" -> nearDupMs, "contamination_ms" -> contaminationMs,
      "single_core_pass" -> Json.Raw(single))
  } finally curation.close()
}
