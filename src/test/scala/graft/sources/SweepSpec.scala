package graft.sources

import java.nio.file.{Files => JFiles, Path}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite

/** The orphan sweep shared by the index store and the replay
  * checkpoints, exercised at the index store's 24 h cutoff. */
class SweepSpec extends AnyFunSuite {

  test("sweepStale reaps only prefixed dirs whose newest file is past the cutoff") {
    val base = JFiles.createTempDirectory("graft_sweep_spec")
    val old = FileTime.fromMillis(
      System.currentTimeMillis() - 25L * 60 * 60 * 1000)
    def aged(p: Path): Path = { JFiles.setLastModifiedTime(p, old); p }
    // dead corpus: every file under it is 25 h old
    val dead = JFiles.createDirectory(base.resolve("graft_idx_dead"))
    aged(JFiles.createFile(dead.resolve("part-0.parquet")))
    aged(dead)
    // served index: old root and data, but the serve heartbeat touched
    // _READY just now
    val served = JFiles.createDirectory(base.resolve("graft_idx_served"))
    aged(JFiles.createFile(served.resolve("part-0.parquet")))
    JFiles.createFile(served.resolve("_READY"))
    aged(served)
    // not ours: old, but without the prefix
    val foreign = JFiles.createDirectory(base.resolve("other_dir"))
    aged(JFiles.createFile(foreign.resolve("data")))
    aged(foreign)

    try {
      Files.sweepStale(Seq(base), "graft_idx_", 24L * 60 * 60 * 1000)
      assert(!JFiles.exists(dead), "a 25 h-old graft_idx_ dir must be reaped")
      assert(JFiles.exists(served.resolve("_READY")),
        "a freshly heartbeated index must survive the sweep")
      assert(JFiles.exists(foreign.resolve("data")),
        "a dir without the prefix must survive the sweep")
    } finally {
      val walk = JFiles.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { JFiles.deleteIfExists(f); () })
      finally walk.close()
    }
  }
}
