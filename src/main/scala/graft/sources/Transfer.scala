package graft.sources

import java.nio.file.Paths

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standalone opaque file transfer (SURVEY.md §2A `transfer_file`): the
  * reference's SFTP→S3 byte-for-byte copy with `replace=True`
  * (script-dag-dock-report:166-175) as its own queryable operator.
  *
  * Scale design: a `binaryFile` scan distributes source files across
  * executors; each task streams its files through the Hadoop FileSystem API
  * (`create(..., overwrite = true)` — the reference's replace semantics), so
  * the copy works identically against file:, hdfs:, or s3a: destinations and
  * peak task memory is one file's bytes (binaryFile rows are whole files,
  * matching the reference's whole-archive transfer unit). The returned
  * DataFrame is the integrity proof: source vs destination re-scan joined on
  * file name, comparing sizes and xxhash64 content checksums in-engine.
  */
/** Java-serializable carrier for a Hadoop Configuration (which is Writable
  * but not Serializable) so the session's spark.hadoop.* settings travel to
  * executor tasks inside closures/broadcasts.
  */
class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object Transfer {

  /** Copy every file in `srcDir` into `dstDir` (flat, overwrite), then
    * return one row per file: (file, src_bytes, bytes_match, checksum_match).
    */
  def transferDir(s: SparkSession, srcDir: String, dstDir: String): DataFrame = {
    graft.GraftSession.adopt(s)
    import s.implicits._
    val src = s.read.format("binaryFile").load(srcDir)
      .select(col("path"), col("content"))

    // distributed byte-copy; executors resolve the FS from the URI using the
    // SESSION's Hadoop configuration (broadcast — Configuration itself is not
    // Serializable), so spark.hadoop.* settings (s3a credentials/endpoints,
    // hdfs overrides, custom fs.<scheme>.impl registrations) reach the copy
    // tasks — asserted by the cross-scheme test in FunctionsSpec
    val hconf = s.sparkContext.broadcast(
      new SerializableHadoopConf(s.sparkContext.hadoopConfiguration))
    src.as[(String, Array[Byte])].foreachPartition {
      part: Iterator[(String, Array[Byte])] =>
        val conf = hconf.value.value
        part.foreach { case (path, bytes) =>
          val name = Paths.get(new java.net.URI(path).getPath).getFileName.toString
          val target = new HPath(dstDir, name)
          val fs = target.getFileSystem(conf)
          val out = fs.create(target, /* overwrite = */ true)
          try out.write(bytes) finally out.close()
        }
    }

    def scanSums(dir: String, prefix: String): DataFrame =
      s.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as(s"${prefix}_file"),
          length(col("content")).as(s"${prefix}_bytes"),
          xxhash64(col("content")).as(s"${prefix}_sum"))

    scanSums(srcDir, "src")
      .join(scanSums(dstDir, "dst"), col("src_file") === col("dst_file"), "full_outer")
      .select(
        coalesce(col("src_file"), col("dst_file")).as("file"),
        (col("src_bytes") === col("dst_bytes")).as("bytes_match"),
        (col("src_sum") === col("dst_sum")).as("checksum_match"))
      .orderBy("file")
  }

  /** q_transfer_file — transfer the deterministic landing fixtures (4
    * archives + the non-zip README: transfer is suffix-blind, unlike the
    * ingest's list_filter_suffix) and prove byte-for-byte integrity.
    */
  def transferFile(s: SparkSession): DataFrame = {
    val landing = Zip.landingFixtures()
    val dst = s"${sys.props("java.io.tmpdir")}/graft_out/q_transfer_file"
    transferDir(s, landing.toString, dst)
  }

  // ------------------------------------------------------------- contract

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_transfer_file" -> ((s: SparkSession, _: String) => transferFile(s)))

  /** Static oracle: the five fixture DATA files (4 archives + the README
    * decoy — transfer is suffix-blind but Spark file sources hide
    * underscore-prefixed metadata like the `_COMPLETE` publish marker), all
    * byte-identical after the copy. Sizes/checksums are compared engine-side
    * (zip bytes embed fixture-creation mtimes, so literal checksums would be
    * nondeterministic); the booleans are the invariant.
    */
  val oracle: Map[String, String] = Map(
    "q_transfer_file" ->
      ("SELECT * FROM (VALUES " +
        (Seq("README.txt") ++ (0 until 4).map(i => f"balance_$i%02d.zip"))
          .sorted
          .map(f => s"('$f', true, true)")
          .mkString(", ") +
        ") t(file, bytes_match, checksum_match) ORDER BY file"))
}
