package graft.spark

import org.apache.spark.sql.SparkSession

/** The reference's `copy_file` strategy-conversion tool
  * (erigon_extract.c:2047-2100): decode a `.dat` dataset with one
  * strategy and re-encode it with another. The CLI form is
  * `graft.Cli copy <inDir> <outDir> <strategyIn> <strategyOut>`.
  *
  * The read path is the page-split DSv2 source, so the conversion is
  * distributed: each split decodes independently and each output partition
  * re-encodes with fresh compression state (the same state reset the
  * writer performs at every page restart). Per-partition input order is
  * preserved end-to-end (mapPartitions, no shuffle), which is what the
  * delta strategies need for compact output.
  */
object CopyFile {

  /** Convert a dataset between strategies, preserving the manifest's
    * block range.
    */
  def convert(spark: SparkSession, inDir: String, outDir: String,
              strategyIn: Int, strategyOut: Int): Unit = {
    def field(name: String): Long =
      StateFiles.manifestField(inDir, name).getOrElse(0L)
    val items = StateFiles.read(spark, inDir, strategyIn)
    StateFiles.write(items, outDir, strategyOut, field("block_start"),
      field("block_end"))
  }
}
