package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, not}
import org.apache.spark.unsafe.Platform

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

/** Standalone opaque file transfer (SURVEY.md §2A `transfer_file`): the
  * reference's SFTP→S3 byte-for-byte copy with `replace=True`
  * (script-dag-dock-report:166-175) as its own queryable operator.
  *
  * Scale design: a `binaryFile` scan distributes source files across
  * executors; each task streams its files through the Hadoop FileSystem API
  * (`create(..., overwrite = true)` — the reference's replace semantics), so
  * the copy works identically against file:, hdfs:, or s3a: destinations.
  * binaryFile rows are whole files (the reference's whole-archive transfer
  * unit), so peak task memory is two copies of one file: its source bytes
  * and the landed bytes read back. The integrity proof runs in the copy
  * task: it re-opens what landed and compares size and xxhash64 (seed 42,
  * Spark's `xxhash64`) with the source bytes it just wrote. Files present
  * only in the destination come from a driver-side listing under Spark's
  * hidden-file rules, so the whole transfer is one job.
  */
object Transfer {

  /** Copy every file in `srcDir` into `dstDir` (flat, overwrite), then
    * return one row per file, ordered by name: (file, bytes_match,
    * checksum_match). A file found only in `dstDir` has NULL flags.
    */
  def transferDir(s: SparkSession, srcDir: String, dstDir: String): DataFrame = {
    graft.GraftSession.adopt(s)
    import s.implicits._
    // executors resolve the FS from the URI with the SESSION's Hadoop
    // configuration (broadcast — Configuration itself is not Serializable):
    // the context's spark.hadoop.* settings plus every key set on this
    // session (s3a credentials/endpoints, hdfs overrides, custom
    // fs.<scheme>.impl registrations) reach the copy tasks — asserted by
    // the cross-scheme test in FunctionsSpec
    val hconf = s.sparkContext.broadcast(
      new SerializableHadoopConf(s.sessionState.newHadoopConf()))
    val copied = s.read.format("binaryFile").load(srcDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { part =>
        val conf = hconf.value.value
        part.map { case (path, bytes) =>
          val name = fileName(path)
          val target = new HPath(dstDir, name)
          val fs = target.getFileSystem(conf)
          val out = fs.create(target, /* overwrite = */ true)
          try out.write(bytes) finally out.close()
          val in = fs.open(target)
          val landed = try in.readAllBytes() finally in.close()
          (name, landed.length == bytes.length, xxhash64(landed) == xxhash64(bytes))
        }
      }
      .collect()
    val names = copied.map(_._1).toSet
    // files only in the destination: the driver lists what a binaryFile
    // read of it would scan (Spark's hidden-file rules), without a job
    val strays = s.read.format("binaryFile").load(dstDir).inputFiles
      .map(fileName).filterNot(names)
    (copied.map { case (n, b, c) => (n, Option(b), Option(c)) } ++
      strays.map(n => (n, Option.empty[Boolean], Option.empty[Boolean])))
      .sortBy(_._1).toSeq
      .toDF("file", "bytes_match", "checksum_match")
  }

  /** The rows of a [[transferDir]] result that do not prove a byte-exact
    * copy. NULL-safe: a file on one side only has NULL flags, and `!NULL`
    * is NULL, which a plain filter would drop — counting a missing file as
    * intact; anything not provably matched is unproven. The filter runs on
    * the driver over the collected local result, so it starts no job.
    */
  def unproven(integrity: DataFrame): Seq[String] =
    integrity.where(not(col("bytes_match") <=> true) || not(col("checksum_match") <=> true))
      .select("file").collect().map(_.getString(0)).toSeq

  /** Spark's `xxhash64` of a binary value (seed 42). */
  private def xxhash64(bytes: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)

  /** The decoded last segment of a file URI, as both `binaryFile`'s
    * `path` column and `inputFiles` give it. */
  private def fileName(uri: String): String = new HPath(new java.net.URI(uri)).getName

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
