package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark workload over the program's public API. The runner
  * calls [[touch]] during set-up, [[init]] once untimed, then per pass
  * [[prepare]] (untimed reset), [[pass]] (timed) and [[check]]
  * (untimed). */
trait Workload {
  /** Input records one pass processes (users, documents or queries). */
  def records: Long
  /** The span names this workload records when traced. */
  def spanNames: Seq[String]
  /** Warm passes a run makes at least, whatever `--seconds` says. */
  def minWarm: Int = 1
  /** The first touch of the workload's table, part of set-up time. */
  def touch(): Unit
  def init(): Unit = ()
  def prepare(): Unit = ()
  def pass(t: Tracer): Unit
  /** Output checks of the last pass, one message per failed check. */
  def check(): Seq[String]
  /** Damages the last pass's output, for the self-test of the checks. */
  def corrupt(): Unit
  /** Share of the generator's expected items the output got right
    * over the run: sampled rows for the users workloads, planted
    * duplicates removed for corpus curation, recall@10 for ANN. */
  def quality(): Double
  /** Named per-layer extras of the last traced pass. */
  def extras(t: Tracer): Map[String, Double] = Map.empty
  /** Untraced time of what the traced pass runs, given the median warm
    * pass; the traced pass minus this is the tracing overhead. */
  def untracedEquivalent(warmMedian: Double): Double = warmMedian
}

/** Run context shared by the workloads. */
final case class Ctx(spark: SparkSession, data: Path, work: Path, cpus: Int, seed: Long) {
  def dataFile(name: String): String = data.resolve(name).toString
  def workDir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
  lazy val meta = Json.read(Files.readString(data.resolve("meta.json")))
  def metaLong(k: String): Long = meta.get(k).asLong()
}

object Ctx {
  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
