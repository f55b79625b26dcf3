package pipebench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the pipeline benchmark: sets the program up, drives one
  * workload through the program's public entry points for a fixed time,
  * and writes raw observations (latencies, replies, stage results,
  * streaming progress, trace) under the run's work directory. The Python
  * runner generates the inputs beforehand and turns these observations
  * into checked metrics afterwards.
  *
  * Arguments are key=value pairs: workload, data (corpus dir), work (run
  * scratch dir), seconds, trace (0|1), cores, setups.
  */
object Main {

  final case class Conf(workload: String, data: String, work: String, seconds: Double,
                        trace: Boolean, cores: Int, setups: Int) {
    def file(name: String): File = new File(work, name)
    lazy val plan: JsonNode = new ObjectMapper().readTree(file("plan.json"))
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val conf = Conf(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("setups").toInt)
    // The program's own DuckDB oracles, for the runner's output checks.
    write(conf.file("oracle.json"), Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1): _*))
    val workload: Workload = conf.workload match {
      case "api_mix" => new ApiMix(conf)
      case "live_ingest" => new LiveIngest(conf)
      case "nightly_batch" => new NightlyBatch(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up is repeated and the runner reports its median; every set-up
    // but the last is torn down again.
    val setupSec = (1 to conf.setups).map { i =>
      val t0 = System.nanoTime()
      val spark = GraftSession.local(conf.cores)
      workload.setUp(spark)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < conf.setups) { workload.tearDown(); spark.stop() }
      s
    }
    val spark = SparkSession.active
    val phases = workload.measure(spark)
    workload.tearDown()
    val extra = workload.extra(spark)
    SparkSession.getActiveSession.foreach(_.stop())
    spark.stop()
    write(conf.file("result.json"), Json.obj(
      "workload" -> conf.workload, "setup_s" -> setupSec, "peak_rss_mb" -> peakRssMb,
      "phases" -> Json.Raw(Json.arr(phases)), "extra" -> Json.Raw(extra)))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }

  def write(f: File, text: String): Unit = {
    val w = new PrintWriter(f, StandardCharsets.UTF_8)
    try w.print(text) finally w.close()
  }

  def appendLine(w: PrintWriter, line: String): Unit = { w.println(line); w.flush() }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}

/** One benchmark workload: set-up (session warm-up until ready), the
  * measured phases, and any traced-only extras. */
trait Workload {
  def setUp(spark: SparkSession): Unit
  /** Measured phases as JSON objects. Untraced runs have one phase;
    * traced runs an untraced and a traced phase of equal length. */
  def measure(spark: SparkSession): Seq[String]
  def tearDown(): Unit = ()
  def extra(spark: SparkSession): String = "{}"
}
