package graft.harness

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The reference's job-harness contract re-expressed in Scala (SURVEY.md
  * §2A): settings record with env / JSON-string / JSON-file sources, a
  * closed response record, and an abstract job with a single `runJob` hook.
  *
  * Reference citations: settings + env prefix `core.py:50-55`; config-file
  * loader `core.py:57-69`; response model `core.py:75-81`; abstract job
  * `core.py:84-110`.
  */
trait Settings {
  def inputSource: String
  def outputDirectory: String
}

final case class JobSettings(
  inputSource: String,
  outputDirectory: String,
  extra: Map[String, String] = Map.empty) extends Settings

object JobSettings {
  /** Same env-var contract as the reference (`core.py:53`). */
  val EnvPrefix = "TRANSFORMATION_JOB_"

  /** E3: populate from `TRANSFORMATION_JOB_*` environment variables. */
  def fromEnv(env: Map[String, String] = sys.env): JobSettings = {
    def get(k: String) = env.getOrElse(EnvPrefix + k,
      throw new IllegalArgumentException(s"missing env var $EnvPrefix$k"))
    val known = Set("INPUT_SOURCE", "OUTPUT_DIRECTORY")
    val extra = env.collect {
      case (k, v) if k.startsWith(EnvPrefix) && !known(k.stripPrefix(EnvPrefix)) =>
        k.stripPrefix(EnvPrefix).toLowerCase -> v
    }
    JobSettings(get("INPUT_SOURCE"), get("OUTPUT_DIRECTORY"), extra)
  }

  /** E1: parse + validate from a CLI JSON string (`core.py:23-34`).
    * Extra keys are accepted but runtime-validated like pydantic would
    * (`core.py:69,78`): scalars only — an object or array value is a
    * structural config error, not a string in disguise, and silently
    * coercing it with `asText()` (which yields "" for containers) would
    * swallow the mistake.
    */
  def fromJson(json: String): JobSettings = {
    val node = new ObjectMapper().readTree(json)
    require(node.hasNonNull("input_source"), "input_source is required")
    require(node.hasNonNull("output_directory"), "output_directory is required")
    require(node.get("input_source").isTextual,
      "input_source must be a string path")
    require(node.get("output_directory").isTextual,
      "output_directory must be a string path")
    val known = Set("input_source", "output_directory")
    val extra = node.properties().asScala.collect {
      case e if !known(e.getKey) =>
        require(e.getValue.isValueNode,
          s"setting '${e.getKey}' must be a scalar, got ${e.getValue.getNodeType}")
        e.getKey -> e.getValue.asText()
    }.toMap
    JobSettings(node.get("input_source").asText(),
      node.get("output_directory").asText(), extra)
  }

  /** E2: hydrate from a JSON settings file (`core.py:57-69`). */
  def fromConfigFile(path: String): JobSettings =
    fromJson(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
}

/** Closed result record (`core.py:75-81`; case classes are closed by
  * construction, matching pydantic's `extra="forbid"`).
  */
final case class JobResponse(
  statusCode: Int,
  message: Option[String] = None,
  data: Option[String] = None)

/** The reference's `GenericEtl` (`core.py:84-110`): holds immutable settings
  * (immutability replaces the deep copy at `core.py:97`) and exposes the one
  * abstract computation hook.
  */
abstract class GenericEtl[S <: Settings](val settings: S) {
  /** The entire transformation lives here (`core.py:108-110`). */
  def runJob(spark: SparkSession): JobResponse

  /** The jobs' shared failure contract: an exception in `body` becomes a
    * 500 response carrying its message instead of escaping `runJob`.
    */
  protected def respond(body: => JobResponse): JobResponse =
    try body
    catch { case e: Exception => JobResponse(500, Some(e.toString), None) }
}
