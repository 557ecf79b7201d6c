package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** JSON manifest control plane — parity with the reference's
  * manifest-driven orchestration (O1/O3: `check_for_files` writes a
  * JSON array of discovered keys, `generate_batches` splits it into
  * per-batch manifests of `BATCH_SIZE=5`, mapped tasks read them back;
  * `cocoa_processing_dag.py:56-127`).
  *
  * In the Spark engine the streaming checkpoint log subsumes this for
  * exactly-once processing; the manifest path exists for operational
  * parity (external systems that hand work over as manifests) and is
  * deliberately driver-side: manifests are control-plane metadata
  * (thousands of strings), not data. */
object Manifest {

  /** JSON escape for path strings. */
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def write(spark: SparkSession, manifestPath: String, files: Seq[String]): Unit = {
    val fs = Ingest.fs(spark, manifestPath)
    val out = fs.create(new Path(manifestPath), true)
    try out.write(files.map(q).mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Driver-side read: manifests are control-plane metadata (a few KB
    * of JSON) — launching Spark jobs to parse one would schedule
    * cluster tasks for nothing. Jackson ships with Spark. */
  def read(spark: SparkSession, manifestPath: String): Seq[String] = {
    val fs = Ingest.fs(spark, manifestPath)
    val p = new Path(manifestPath)
    if (!fs.exists(p)) return Seq.empty
    val txt = Ingest.readText(fs, p)
    if (txt.trim.isEmpty) return Seq.empty
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(txt, classOf[Array[String]]).toSeq
  }

  /** Split into batches of `size` (reference BATCH_SIZE=5). */
  def batches(files: Seq[String], size: Int): Seq[Seq[String]] =
    files.sorted.grouped(size).toSeq

  /** Manifest-driven variant of the batch pipeline: discover, persist
    * the manifest, then process exactly the manifested files. */
  def discoverAndWrite(spark: SparkSession, landingDir: String, manifestPath: String): Seq[String] = {
    val files = Ingest.discoverCsv(spark, landingDir)
    if (files.nonEmpty) write(spark, manifestPath, files)
    files
  }
}
