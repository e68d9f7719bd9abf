package graft.repo

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}

/** Parquet-footer key/value metadata, embedded IN the data files.
  *
  * The reference stores repo metadata inside each file's parquet footer
  * (`extra_metadata` merge at core.py:294-301, read-back at
  * core.py:535-536), so any foreign parquet reader sees it. Spark's
  * writer offers no hook for custom footer KV, hence the repo's sidecar
  * (`_repo_meta.json`) — this module closes the gap: [[embed]] copies a
  * file with extra KV pairs while BYTE-COPYING the row groups
  * (`appendFile` — no decode/re-encode, cost is IO not CPU), preserving
  * the existing KV (including Spark's own schema key) so engine reads
  * are unaffected. Atomicity is the caller's: TableRepo.embedMetadata
  * copies every file into a fresh snapshot version and commits it whole.
  */
object ParquetMeta {

  /** The footer's key/value metadata. */
  def keyValueMeta(conf: Configuration, path: Path): Map[String, String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally r.close()
  }

  /** Copy `src` to `dst` with `extra` merged into its footer KV (existing
    * keys preserved; `extra` wins on collision). `dst` must not exist; a
    * failure leaves a partial `dst` for the caller to discard.
    */
  def embed(conf: Configuration, src: Path, dst: Path, extra: Map[String, String]): Unit = {
    val in = HadoopInputFile.fromPath(src, conf)
    val (schema, existing) = {
      val r = ParquetFileReader.open(in)
      try (r.getFooter.getFileMetaData.getSchema,
        r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
      finally r.close()
    }
    // row-group size / padding are irrelevant here: the writer only
    // appendFile()s existing row groups verbatim
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(dst, conf), schema,
      ParquetFileWriter.Mode.CREATE,
      org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong, 0)
    try {
      w.start()
      w.appendFile(in)
      w.end((existing ++ extra).asJava)
    } finally w.close() // idempotent after end(); releases the stream on failure
  }
}
