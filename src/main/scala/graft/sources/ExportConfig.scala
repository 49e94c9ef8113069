package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON run configuration mirroring the reference's export_config.json
  * semantics (queries_path: tag → query): `queries` maps the export
  * tag (the CSV base name) to a registered query name in
  * `SparkEntry.queries`; `constants` are the appended facility columns
  * (derived from the dim tables when absent, like the reference's
  * location lookups); `window` pins the Ethiopian report month — when
  * absent the run is "as of now" (CURDATE semantics).
  *
  * `db_properties` mirrors the reference's connection block
  * (export_config.json: DB_HOST/DB_USER/DB_PASS/DB_NAME). Here the
  * engine-agnostic `DB_URL` (a full JDBC url) selects the source:
  * when present, every table read routes through `spark.read.jdbc`
  * (see graft.Tables) with DB_USER/DB_PASS as credentials; when
  * absent, the source stays the parquet directory argument.
  */
final case class ExportConfig(
    queries: Seq[(String, String)],
    constants: Seq[(String, String)],
    ethMonth: Option[Int],
    ethYear: Option[Int],
    db: Map[String, String] = Map.empty) {
  def dbUrl: Option[String] = db.get("DB_URL")
}

object ExportConfig {

  def load(path: Path): ExportConfig = parse(
    new String(Files.readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8))

  def parse(json: String): ExportConfig = {
    val root = new ObjectMapper().readTree(json)
    def entries(field: String): Seq[(String, String)] =
      Option(root.get(field)).toSeq.flatMap(n =>
        n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq)
    val window = Option(root.get("window"))
    // Jackson's asInt() reads null, text and arrays as 0, a silent
    // year-0 window; only a JSON integer is a month or a year
    def windowInt(field: String): Option[Int] =
      window.flatMap(w => Option(w.get(field))).map { n =>
        if (!n.isIntegralNumber || !n.canConvertToInt)
          throw new IllegalArgumentException(
            s"config window field $field must be an integer (got $n)")
        n.intValue()
      }
    ExportConfig(
      queries = entries("queries"),
      constants = entries("constants"),
      ethMonth = windowInt("eth_month"),
      ethYear = windowInt("eth_year"),
      db = entries("db_properties").toMap)
  }
}
