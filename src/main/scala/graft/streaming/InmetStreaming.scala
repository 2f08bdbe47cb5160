package graft.streaming

import graft.inmet.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming INMET ingest: the reference's raw dual-section CSV format
  * consumed as a FILE STREAM — the data lines of every file in the stream
  * directory flow through the exact batch cleansing semantics
  * incrementally.
  *
  * Design: the per-file header index (a few bytes per file) is computed
  * from a static read and broadcast; the DATA lines arrive as an unbounded
  * text stream and go through the same classification → split → indexed
  * select → cleanse pipeline, joined stream-static against the header map.
  * Everything is stateless (append mode): the only bounded state is the
  * file-source's seen-files log.
  *
  * Contract: the header map is collected ONCE, when the query is built
  * (`Ingest.fileColumnIndex` collects `headerGlob`'s header lines). The
  * inner join therefore drops every row of a file that `headerGlob` did
  * not match at that moment: a station file that lands after the query
  * starts is read but yields no rows. The stream serves a replay of
  * files already present, not an open-ended landing directory.
  *
  * Streaming-vs-batch equivalence is spec-locked (same rows, same
  * zero-fill, same date coercion) in InmetStreamingSpec. */
object InmetStreaming {

  /** The streaming twin of `Ingest.previsoes`: `lines` is a STREAMING
    * (file, value) frame; `staticLines` a batch read of the same layout
    * family used only for the tiny header map. */
  def previsoesStream(spark: SparkSession, streamDir: String,
                      headerGlob: String): DataFrame = {
    val staticLines = Ingest.readLines(spark, headerGlob)
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(streamDir)
      .select(input_file_name().as("file"), col("value"))
    Ingest.previsoesFrom(spark, lines, staticLines)
  }
}
