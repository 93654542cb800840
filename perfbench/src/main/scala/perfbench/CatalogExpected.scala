package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected catalog outputs, one line per (scale dir name, query):
  * `scale<TAB>query<TAB>rows<TAB>fingerprint`. `record_catalog.py` writes
  * the file after checking every query against its DuckDB oracle. */
object CatalogExpected {

  def load(file: Option[String], dataDir: String): Map[String, (Long, String)] = {
    val scale = Paths.get(dataDir).getFileName.toString
    val path = Paths.get(file.getOrElse(sys.error("catalog needs --expected <file>")))
    if (!Files.exists(path)) return Map.empty
    Files.readAllLines(path, UTF_8).asScala.map(_.split('\t')).collect {
      case Array(`scale`, q, rows, fp) => q -> ((rows.toLong, fp))
    }.toMap
  }

  /** Runs every catalog query once and writes, under `out`: each output as
    * parquet (`<query>/`), its fingerprint (`fingerprints.tsv`) and its
    * oracle SQL (`oracle_sql.json`), for the recorder to check. */
  def record(ctx: Ctx, c: Catalog, out: String): Unit = {
    val lines = Catalog.Queries.map { case (q, _) =>
      val df = c.run(ctx, q)
      df.write.mode("overwrite").parquet(s"$out/$q")
      val (rows, fp) = Stats.fingerprint(df)
      s"$q\t$rows\t$fp"
    }
    Files.write(Paths.get(out, "fingerprints.tsv"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val sql = Catalog.Queries.map(_._1).flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))
    Files.write(Paths.get(out, "oracle_sql.json"), new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsBytes(sql.toMap.asJava))
    println(s"recorded ${lines.size} queries, ${sql.size} with oracle SQL")
  }
}
