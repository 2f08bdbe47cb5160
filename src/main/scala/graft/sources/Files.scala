package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Filesystem-facing source utilities (SURVEY.md §2.1 S1/S2, §7.3).
  * Directory enumeration goes through the Hadoop FileSystem API directly —
  * the same calls work against local FS, HDFS, or object stores, with no
  * py4j bridge (contrast the reference's driver-side listing detour). */
object Files {

  /** List file paths under `dir` matching `suffix` (non-recursive). */
  def listFiles(spark: SparkSession, dir: String,
                suffix: String = ""): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(_.getPath.toString)
      .sorted
  }

  /** Ensure a directory exists (S2 parity; writers normally do this). */
  def ensureDir(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(path)
  }

  /** Drop the first `n` lines of each file, the `zipWithIndex` route
    * (SURVEY §2.2 P1) — a per-FILE row-number filter. Kept as the general
    * fallback for header formats that can't be classified line-by-line;
    * the INMET ingest itself uses shape classification instead (no extra
    * job to compute partition offsets). Processes one file per call so
    * indices are per-file, not global. */
  def skipLines(spark: SparkSession, file: String, n: Int): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(file).rdd.zipWithIndex()
      .filter(_._2 >= n).map(_._1)
      .toDS()
  }

  /** Reap every `prefix*` dir directly under `bases` whose NEWEST mtime
    * anywhere beneath it (not the root's) is older than `maxAgeMs`.
    * Best-effort hygiene: an I/O error skips the dir or base. Directory
    * streams are closed so repeated calls don't leak fds. */
  def sweepStale(bases: Seq[java.nio.file.Path], prefix: String,
                 maxAgeMs: Long): Unit = {
    import java.nio.file.{Files => JFiles, Path => JPath}
    val cutoff = System.currentTimeMillis() - maxAgeMs
    def newestMtime(p: JPath): Long = {
      val walk = JFiles.walk(p)
      try walk.mapToLong { f =>
        try JFiles.getLastModifiedTime(f).toMillis
        catch { case _: java.io.IOException => 0L }
      }.max.orElse(Long.MaxValue)
      finally walk.close()
    }
    bases.distinct.foreach { b =>
      try {
        val listing = JFiles.list(b)
        try listing.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.startsWith(prefix) &&
            (try newestMtime(p) < cutoff
             catch { case _: java.io.IOException => false })) {
            try {
              val walk = JFiles.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .forEach(f => { JFiles.deleteIfExists(f); () })
              finally walk.close()
            } catch { case _: java.io.IOException => () }
          }
        } finally listing.close()
      } catch { case _: java.io.IOException => () }
    }
  }
}
